"""Page single-hop conversion funnel (SURVEY §2.10 X1-X2; reference
PageOneStepConvertRateSpark.java:32-335) over sessionized events.

Target flow: view → click → purchase. The reference sorts each session's
actions inside a flatMap and emits adjacent page pairs; here the pairs come
from the session base's ``prev_event_type`` (a lag in the sessionize window,
computed once per snapshot), and the rate chain — rate(split_1) = pv_1 /
start_pv, rate(split_i) = pv_i / pv_{i-1} — is
``operators.funnel.conversion_rates``: one aggregate over the base counts
start_pv and every split, so the whole query stays one DataFrame expression
with a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.funnel import conversion_rates, split_of
from . import query
from .session_analysis import SESS_CTE, _sessionized

TARGET_FLOW = ["view", "click", "purchase"]


@query(
    "funnel",
    oracle=f"""
WITH {SESS_CTE},
splits AS (
    SELECT session_id,
           lag(event_type) OVER (PARTITION BY session_id ORDER BY ts, event_id)
               || '_' || event_type AS split
    FROM sess
),
counts AS (
    SELECT split, count(*) AS split_pv FROM splits
    WHERE split IN ('view_click', 'click_purchase')
    GROUP BY split
),
start_pv AS (SELECT count(*) AS pv FROM sess WHERE event_type = 'view'),
targets AS (
    SELECT * FROM (VALUES ('view_click', 1), ('click_purchase', 2)) t(split, ord)
),
chained AS (
    SELECT t.split, t.ord, COALESCE(c.split_pv, 0) AS split_pv,
           lag(COALESCE(c.split_pv, 0)) OVER (ORDER BY t.ord) AS prev_pv
    FROM targets t LEFT JOIN counts c USING (split)
)
SELECT ch.split, ch.split_pv,
       round(ch.split_pv / COALESCE(ch.prev_pv, s.pv), 4) AS convert_rate
FROM chained ch CROSS JOIN start_pv s
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 + X2: adjacent pairs from the in-session predecessor, target-split
    counts, chained conversion rates. Reference pair-gen:
    PageOneStepConvertRateSpark.java:122-217; rate chain :270-308 (driver
    loop → here in-plan, in one aggregate)."""
    sess = _sessionized(spark, sf_dir)
    splits = sess.select(
        "event_type",
        split_of(F.col("prev_event_type"), F.col("event_type")).alias("split"),
    )
    return conversion_rates(splits, TARGET_FLOW, 4, page_col="event_type")

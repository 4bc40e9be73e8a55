"""Sessionization + per-session aggregation (SURVEY §2.4 A1).

The reference's clickstream carries a pre-assigned ``session_id``, and A1 is a
groupByKey + hand-written loop computing per-session stats
(UserVisitSessionAnalyzeSpark.java:304-421). The driver testdata (``events``)
has no session column, so this engine provides the general form: gap-based
sessionization (a window lag + cumulative-sum of boundary flags), then a single
hash-aggregate for the per-session stats.

Scale notes: one shuffle on the user key for the window; the subsequent
groupBy keys are user-prefixed so the aggregate is map-side combinable. No
groupByKey materialization of whole sessions. Gap arithmetic uses integer
microseconds (``unix_micros``) — exact, total-ordered, and identical across
engines (the oracle uses ``epoch_us``), unlike float epoch seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.compat import group_concat_distinct
from ..functions.scalar import epoch_us


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    session_col: str = "session_id",
    tiebreak_col: str | None = None,
    prev_col: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the user's
    inter-event gap exceeds ``gap_minutes``. session_id = "<user>_<seq>".

    ``tiebreak_col`` (e.g. the event id) makes the ordering total when
    timestamps collide — mandatory for deterministic results at scale.

    ``prev_col`` also emits ``prev_<prev_col>``: that column of the
    in-session predecessor, NULL at a session start. It is a lag over the
    same window, so it costs no further sort or shuffle.
    """
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    prev_us = F.lag(epoch_us(ts_col)).over(w)
    gap_us = gap_minutes * 60 * 1_000_000
    # The start flag is one column, so both windows above it read it and
    # the exchange below ships one copy of the epoch key.
    flagged = df.withColumn(
        "__starts", prev_us.isNull() | (epoch_us(ts_col) - prev_us > gap_us)
    )
    is_new = F.when(F.col("__starts"), F.lit(1)).otherwise(F.lit(0))
    seq = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    cols = {session_col: F.concat_ws("_", F.col(user_col).cast("string"), seq.cast("string"))}
    if prev_col:
        cols[f"prev_{prev_col}"] = F.when(~F.col("__starts"), F.lag(prev_col).over(w))
    return flagged.withColumns(cols).drop("__starts")


def session_aggregate(
    sessions: DataFrame,
    session_col: str = "session_id",
    user_col: str = "user_id",
    ts_col: str = "ts",
    payload_col: str = "event_type",
) -> DataFrame:
    """Per-session stats (A1 parity):

    - step_length  = count(*)                 (loop counter :381)
    - visit_length = whole seconds max-min ts (:399-401)
    - payloads     = sorted distinct payload values, comma-joined
      (reference concatenates distinct search keywords in arrival order,
      :353-369 — sorted here for determinism under shuffle)
    - user_id (constant within a session by construction)

    Shuffle note: grouping includes ``user_col`` so the exchange introduced by
    sessionize's user-partitioned window already satisfies this aggregate's
    distribution (HashPartitioning(user) clusters (user, session)) — grouping
    by the concat string alone would force a second full shuffle.
    """
    visit_len = (
        (epoch_us(F.max(ts_col)) - epoch_us(F.min(ts_col)))
        / F.lit(1_000_000)
    ).cast("long")
    return (
        sessions.groupBy(user_col, session_col)
        .agg(
            F.count(F.lit(1)).alias("step_length"),
            visit_len.alias("visit_length"),
            group_concat_distinct(payload_col).alias("payloads"),
            F.min(ts_col).alias("start_time"),
        )
        .select(
            session_col,
            user_col,
            "step_length",
            "visit_length",
            "payloads",
            "start_time",
        )
    )

"""Funnel / sequence analysis (SURVEY §2.10 X1-X2).

The reference sorts each session's actions inside a flatMap, forms adjacent
page pairs, and countByKey's the pairs that appear in the target flow
(PageOneStepConvertRateSpark.java:122-217), then computes chained conversion
rates on the driver (:270-308).

Spark-first shape: a ``lag`` window over (session, time) produces the adjacent
pairs declaratively — the per-group sort the reference does in Java is the
window's ORDER BY, executed as one shuffle + in-partition sort, no
driver involvement. The rate chain stays in the plan too: one aggregate
counts the start page and every target split into one row, and each step's
rate is computed in that row, so nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def split_of(prev: Column, page: Column) -> Column:
    """The "prev_curr" pair of a step, NULL when it has no predecessor."""
    return F.when(
        prev.isNotNull(), F.concat_ws("_", prev.cast("string"), page.cast("string"))
    )


def page_splits(
    df: DataFrame,
    session_col: str = "session_id",
    ts_col: str = "ts",
    page_col: str = "page_id",
    tiebreak_col: str | None = None,
    copartition_col: str | None = None,
) -> DataFrame:
    """Adjacent-step pairs "prev_curr" per session, ordered by event time.

    ``tiebreak_col`` (e.g. the event id) makes ordering total when timestamps
    can collide — at scale, ties are a certainty, and a nondeterministic lag
    makes the whole funnel unstable.

    ``copartition_col``: when the input is already partitioned by a coarser
    key that prefixes the session (the sessionize window's user key), pass it
    as the leading partition column — the existing exchange then satisfies
    this window and the per-session lag costs a sort, not a shuffle.
    """
    parts = ([copartition_col] if copartition_col else []) + [session_col]
    order = [F.col(ts_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(*parts).orderBy(*order)
    return df.withColumn("split", split_of(F.lag(page_col).over(w), F.col(page_col)))


def conversion_rates(
    splits_df: DataFrame,
    target_flow: list[str],
    scale: int,
    page_col: str = "page_id",
) -> DataFrame:
    """Chained rates (X2): rate(split_1) = pv_1 / start_pv, rate(split_i) =
    pv_i / pv_{i-1}, rounded HALF_UP to ``scale`` dp (util/NumberUtils.java:
    17-20). start_pv counts the rows of ``splits_df`` whose ``page_col`` is
    the flow's first page. Output: one row per target split (split,
    split_pv, convert_rate); a split with no traffic has split_pv 0.

    A zero denominator (no start-page rows, or a zero-count split followed
    by another) gives a NULL rate — ``try_divide``, because ANSI mode makes
    ``/`` raise, and NULL is what SQL's division gives the oracles."""
    targets = [f"{a}_{b}" for a, b in zip(target_flow, target_flow[1:])]
    if not targets:  # a one-page flow has no step to rate
        return splits_df.sparkSession.createDataFrame(
            [], "split string, split_pv long, convert_rate double"
        )
    # One global aggregate counts the start rows and every split, so the
    # splits frame is read once and the chain needs no join.
    counts = splits_df.agg(
        F.count(F.when(F.col(page_col).cast("string") == target_flow[0], 1)).alias("start_pv"),
        *[
            F.count(F.when(F.col("split") == t, 1)).alias(f"pv{i}")
            for i, t in enumerate(targets)
        ],
    )
    prev = ["start_pv"] + [f"pv{i}" for i in range(len(targets) - 1)]
    steps = [
        F.struct(
            F.lit(t).alias("split"),
            F.col(f"pv{i}").alias("split_pv"),
            F.round(F.try_divide(F.col(f"pv{i}"), F.col(p)), scale).alias(
                "convert_rate"
            ),
        )
        for i, (t, p) in enumerate(zip(targets, prev))
    ]
    return counts.select(F.inline(F.array(*steps)))

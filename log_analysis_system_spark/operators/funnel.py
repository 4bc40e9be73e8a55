"""Funnel / sequence analysis (SURVEY §2.10 X1-X2).

The reference sorts each session's actions inside a flatMap, forms adjacent
page pairs, and countByKey's the pairs that appear in the target flow
(PageOneStepConvertRateSpark.java:122-217), then computes chained conversion
rates on the driver (:270-308).

Spark-first shape: a ``lag`` window over (session, time) produces the adjacent
pairs declaratively — the per-group sort the reference does in Java is the
window's ORDER BY, executed as one shuffle + in-partition sort, no
driver involvement. The rate chain stays in the plan too: the per-split
counts are pivoted into one row beside the start count, and each step's
rate is computed in that row, so nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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
    prev = F.lag(page_col).over(w)
    return df.withColumn(
        "split",
        F.when(
            prev.isNotNull(),
            F.concat_ws("_", prev.cast("string"), F.col(page_col).cast("string")),
        ),
    )


def funnel_counts(
    splits_df: DataFrame, target_flow: list[str]
) -> DataFrame:
    """Count occurrences of each target split (X1). ``target_flow`` is page ids
    in order, e.g. ['view','click','purchase'] or ['3','5','2','4','6']."""
    targets = [f"{a}_{b}" for a, b in zip(target_flow, target_flow[1:])]
    return (
        splits_df.where(F.col("split").isin(targets))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("split_pv"))
    )


def conversion_rates(
    splits_df: DataFrame,
    start_rows: DataFrame,
    target_flow: list[str],
    scale: int,
) -> DataFrame:
    """Chained rates (X2): rate(split_1) = pv_1 / start_pv, rate(split_i) =
    pv_i / pv_{i-1}, rounded HALF_UP to ``scale`` dp (util/NumberUtils.java:
    17-20). ``start_rows`` are the rows on the flow's first page; their
    count is start_pv. Output: one row per target split (split, split_pv,
    convert_rate); a split with no traffic has split_pv 0.

    A zero denominator (no start-page rows, or a zero-count split followed
    by another) gives a NULL rate — ``try_divide``, because ANSI mode makes
    ``/`` raise, and NULL is what SQL's division gives the oracles."""
    targets = [f"{a}_{b}" for a, b in zip(target_flow, target_flow[1:])]
    if not targets:  # a one-page flow has no step to rate
        return splits_df.sparkSession.createDataFrame(
            [], "split string, split_pv long, convert_rate double"
        )
    # The counts are read once: pivoted into one row (0 for a split with no
    # traffic) beside start_pv, then unfolded into one row per step. A
    # self-join on the step number would plan the splits branch twice, and
    # AQE reuses neither copy's stages when that branch scans a cached
    # table.
    counts = funnel_counts(splits_df, target_flow).agg(
        *[
            F.coalesce(F.max(F.when(F.col("split") == t, F.col("split_pv"))), F.lit(0))
            .alias(f"pv{i}")
            for i, t in enumerate(targets)
        ]
    )
    start_pv = start_rows.agg(F.count(F.lit(1)).alias("start_pv"))
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
    return counts.crossJoin(start_pv).select(F.inline(F.array(*steps)))

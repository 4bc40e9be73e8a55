"""Stratified sampling (SURVEY §2.9 R1).

The reference extracts ~100 sessions/day, split across hours proportionally to
each hour's share of the day's sessions, by drawing random indices on the
driver and broadcasting them (UserVisitSessionAnalyzeSpark.java:701-1013).
That design is driver-bound and unseeded (order-dependent).

Engine form: fully distributed and deterministic —
1. per-stratum counts (one small aggregate); each parent's total is a
   window over that stratum-count table, never over data rows,
2. per-stratum quota from the same proportional formula,
3. rank rows inside each stratum by a *deterministic pseudo-random key*
   (md5 of the row id — stable across engines and runs, unlike rand(seed)
   which is engine-specific), keep rank <= quota.

At 100 TB: the rank is a per-stratum top-k. A stratum's quota never
exceeds ``per_parent``, so the rank is filtered by the literal
``rnk <= per_parent`` as well, and Catalyst's ``InferWindowGroupLimit``
puts a ``WindowGroupLimit … Partial`` below the stratum exchange: each map
task ships at most ``per_parent`` rows per stratum, and the stratum-keyed
window sees at most ``per_parent`` rows per map task, however large the
stratum. The bound holds while ``per_parent`` <=
``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default); above
it the limit is not inferred and every row is shipped. The quota table is
tiny and broadcast. No driver-side index draws, no collect of data rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample_exact(
    df: DataFrame,
    parent_cols: list[str],
    child_cols: list[str],
    id_col: str,
    per_parent: int,
) -> DataFrame:
    """Keep ~``per_parent`` rows per parent group (a day), split across its
    strata (parent + child columns, e.g. day + hour) in proportion to each
    stratum's share: quota = least(n_h, floor(n_h * per_parent / n_d)) —
    the reference's formula incl. its floor truncation
    (UserVisitSessionAnalyzeSpark.java:803-807). Rows are chosen by rank on
    (md5(cast(id as string)), id). Returns ``df``'s rows and columns; the
    names ``rnk`` and ``quota`` are used internally."""
    strata = [*parent_cols, *child_cols]
    n_d = F.sum("n_h").over(Window.partitionBy(*parent_cols))
    quotas = (
        df.groupBy(*strata)
        .agg(F.count(F.lit(1)).alias("n_h"))
        .select(
            *strata,
            F.least(
                F.col("n_h"), F.floor(F.col("n_h") * float(per_parent) / n_d).cast("long")
            ).alias("quota"),
        )
    )
    rank = Window.partitionBy(*strata).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    # The literal bound is what lets Catalyst infer the partial top-k below
    # the stratum exchange; the per-stratum quota is applied after the join.
    ranked = df.withColumn("rnk", F.row_number().over(rank)).where(
        F.col("rnk") <= per_parent
    )
    return (
        ranked.join(F.broadcast(quotas), strata)
        .where(F.col("rnk") <= F.col("quota"))
        .drop("rnk", "quota")
    )


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rnk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed 0-based global row-number by ``order_cols`` — the
    scale-safe replacement for ``row_number() OVER (ORDER BY ...)``, which
    moves ALL data to a single partition.

    Plan: range-partition on the sort keys (each partition holds a
    contiguous key range), sort within partitions, derive each row's
    per-partition ordinal from ``monotonically_increasing_id`` (partition id
    in the high bits, the post-sort row counter in the low 33 bits), then
    shift every partition by the total count of the partitions before it.
    The only globally-exchanged structure is the per-partition count vector
    (``num_partitions`` rows — O(parallelism), not O(data)), broadcast back
    as an offset join. Two data shuffles total at any scale, neither of
    which funnels into one task.

    ``order_cols`` must be a total order (add a unique tiebreaker) or ranks
    within ties are partition-placement-dependent.
    """
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    arranged = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mid", 33).cast("long"))
        .withColumn("__local", F.col("__mid").bitwiseAND((1 << 33) - 1))
    )
    arranged = arranged.localCheckpoint(eager=False)
    counts = arranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # Prefix-sum over O(parallelism) rows, never O(data): a broadcast
    # nested-loop self-join (pid' < pid) instead of an unpartitioned window,
    # so WindowExec's single-partition warning stays reserved for real
    # data-sized regressions.
    preceding = counts.select(
        F.col("__pid").alias("__pid2"), F.col("__cnt").alias("__cnt2")
    )
    offsets = (
        counts.join(
            F.broadcast(preceding), F.col("__pid2") < F.col("__pid"), "left"
        )
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__cnt2"), F.lit(0)).alias("__offset"))
    )
    return (
        arranged.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.col("__offset") + F.col("__local"))
        .drop("__mid", "__pid", "__local", "__offset")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    value_col: Column,
    out_col: str = "cum",
    num_partitions: int | None = None,
    checkpoint: bool = True,
    slice_col: Column | None = None,
) -> DataFrame:
    """Per-group inclusive running sum of ``value_col`` by ``order_cols`` —
    the scale-safe replacement for ``sum(v) OVER (PARTITION BY grp ORDER BY
    ...)`` when groups are few and huge (languages, tenants, event types):
    the naive window makes each group ONE task, so five languages at 100 TB
    become five straggler tasks no matter how many executors exist.

    Plan: range-partition on (group, order) so every partition holds a
    contiguous slice of one-or-more groups' order ranges, compute each
    row's running sum WITHIN its (range-partition, group) slice — that
    window's key includes the synthetic partition id, so its tasks are
    bounded by partition size, never group size — then lift slice-local
    sums to global ones by adding each group's preceding-slice totals,
    computed on the O(num_partitions x groups) totals table and broadcast
    back. Two data-sized exchanges at any scale, neither keyed by the bare
    group.

    ``order_cols`` must totally order rows within each group (add a unique
    tiebreaker), or boundary ties make slice membership — and the running
    sum — partition-placement-dependent.

    ``slice_col`` fast path: when the caller can derive a DETERMINISTIC
    slice id that is monotone non-decreasing in the group's order (e.g. the
    leading hex byte of an md5 sort key, or a min/max-scaled dense id),
    pass it — the range exchange, the nondeterministic partition id, and
    the checkpoint all disappear, leaving ONE hash exchange on
    (slice, group) plus the broadcast lift. Slice balance then rests on the
    caller's key distribution (md5 prefixes are uniform by construction).
    """
    if slice_col is not None:
        arranged = df.withColumn("__pid", slice_col.cast("long"))
        checkpoint = False  # every expression is deterministic — recompute-safe
    else:
        n = num_partitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
        gcols = [F.col(g) for g in group_cols]
        arranged = df.repartitionByRange(n, *gcols, *order_cols).withColumn(
            "__pid", F.spark_partition_id()
        )
    w_local = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Pin ONE materialization of the range exchange: __pid is
    # nondeterministic (partition-placement-derived), and the totals branch
    # and the final join would otherwise recompute it independently —
    # same reason global_rank checkpoints its arranged frame. `checkpoint`
    # exists only so plan-shape tests can inspect the full un-truncated
    # plan; production callers must leave it True.
    loc = arranged.withColumn("__v", value_col).withColumn(
        "__loc", F.sum("__v").over(w_local)
    )
    if checkpoint:
        loc = loc.localCheckpoint(eager=False)
    totals = loc.groupBy("__pid", *group_cols).agg(F.sum("__v").alias("__tot"))
    # Exclusive prefix over each group's slice totals. This table is
    # O(slices x groups) — the window partitions on the bare group, but its
    # per-group input is the O(slices) totals vector, never data rows, so
    # it is bounded at any scale (a slice x slice self-join here would be
    # quadratic in slices PER GROUP and dominates once groups are many).
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_off), F.lit(0))
    ).drop("__tot")
    return (
        loc.join(F.broadcast(offsets), ["__pid", *group_cols])
        .withColumn(out_col, F.col("__loc") + F.col("__off"))
        .drop("__pid", "__v", "__loc", "__off")
    )

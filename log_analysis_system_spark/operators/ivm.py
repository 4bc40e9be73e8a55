"""Incremental maintenance of a JOIN view with retractions (Z-set style).

The hypertable store maintains single-table time rollups; this module
maintains a JOINED aggregate — revenue by nation over
lineitem ⋈ supplier ⋈ nation — from fact DELTAS, without ever re-scanning
history. The algebra is the standard linear-view identity

    delta(L ⋈ S ⋈ N) = delta(L) ⋈ S ⋈ N        (dims static per batch)

so each ingest batch contributes one small partial aggregate, and DELETES
are just sign = -1 partials (negative counts/sums — the Z-set/DBSP
formulation): applying a batch then retracting it restores the view
exactly, which the unit test pins. Serving merges partials and drops
groups whose multiplicity reached zero.

All measures are additive integer cents, so partials merge exactly under
any partitioning and any batch order (addition is commutative — late or
out-of-order deltas need no special casing). The store is
`operators/partials.py`."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partials import read_partials, write_partial


def revenue_view_delta(
    lineitem_delta: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    sign: int = 1,
) -> DataFrame:
    """Partial aggregate contributed by one batch of lineitem rows:
    (n_name, revenue_c, n_items), sign = -1 for a deletion batch. Dims
    broadcast; the fact delta is touched once."""
    li = lineitem_delta.select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("rev_c"),
    )
    s = supplier.select("s_suppkey", "s_nationkey")
    n = nation.select("n_nationkey", "n_name")
    joined = li.join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey
    ).join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    return joined.groupBy("n_name").agg(
        (F.lit(sign) * F.sum("rev_c")).alias("revenue_c"),
        (F.lit(sign) * F.count(F.lit(1))).alias("n_items"),
    )


def append_view_delta(delta: DataFrame, store_dir: str, batch_id: int) -> None:
    """Persist one batch's partial (replay-idempotent)."""
    write_partial(delta, store_dir, batch_id)


def serve_view(spark, store_dir: str) -> DataFrame:
    """Current view = merged partials; groups retracted to zero
    multiplicity disappear (a fully-deleted nation leaves the view).

    A group may only vanish when BOTH the count and the sum retract to
    zero — n_items == 0 with revenue_c != 0 means the delta stream is
    malformed (deletes that don't mirror prior inserts), and silently
    discarding nonzero revenue would hide the corruption, so such rows
    are kept visible for the caller/monitor to flag."""
    return (
        read_partials(spark, store_dir)
        .groupBy("n_name")
        .agg(
            F.sum("revenue_c").alias("revenue_c"),
            F.sum("n_items").alias("n_items"),
        )
        .where((F.col("n_items") != 0) | (F.col("revenue_c") != 0))
    )

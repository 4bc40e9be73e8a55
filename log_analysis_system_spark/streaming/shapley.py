"""Streaming Shapley-attribution monitor: mergeable per-user touch
partials appended per micro-batch, exact Shapley credit served on
demand through the SAME scoring body as the batch query.

The batch `shapley_attribution` needs, per user, (a) the first-purchase
event key and (b) which channels were touched before it. Neither is
computable inside one micro-batch (an earlier purchase may arrive
later), but both derive from per-(user, kind) MINIMUM event keys — and
min is associative/commutative/idempotent, so per-batch minima are
mergeable partials exactly like the W1 monitor's additive counts
(`streaming/drift.py`), just under the MIN monoid instead of SUM.
A channel was touched before the first purchase iff its EARLIEST touch
precedes the earliest purchase, so the merged minima reconstruct the
coalition masks exactly.

Per-batch state is O(active users x 5 kinds), independent of batch row
count, kept in the partial store (`operators/partials.py`). The
serve path merges the bounded partial table, rebuilds masks, and calls
`queries.behavior.shapley_from_masks` — shared code, so batch and
stream cannot disagree (pinned by tests/test_streaming_shapley.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import epoch_us
from ..operators.partials import attach_foreach_batch, read_partials, write_partial
from ..queries.behavior import MARKOV_CHANNELS, SHAPLEY_BITS


def touch_partials(batch_df: DataFrame) -> DataFrame:
    """(user_id, kind, t, id) minimum event key per user and kind for one
    batch of raw events — kind is a touch channel or 'purchase'."""
    kinds = (*MARKOV_CHANNELS, "purchase")
    return (
        batch_df.where(F.col("event_type").isin(*kinds))
        .select(
            "user_id",
            F.col("event_type").alias("kind"),
            epoch_us(F.col("ts")).alias("t"),
            F.col("event_id").alias("id"),
        )
        .groupBy("user_id", "kind")
        .agg(
            F.min(
                F.struct(F.col("t").alias("t"), F.col("id").alias("id"))
            ).alias("k")
        )
        .select("user_id", "kind", F.col("k.t").alias("t"),
                F.col("k.id").alias("id"))
    )


def append_shapley_batch(
    batch_df: DataFrame, store_dir: str, batch_id: int
) -> None:
    """foreachBatch body: persist ONE micro-batch's touch minima."""
    write_partial(touch_partials(batch_df), store_dir, batch_id)


def serve_shapley(spark, store_dir: str) -> DataFrame:
    """Serve the exact Shapley attribution table from the streamed
    partials — O(users x kinds) rows read, never the stream."""
    from ..queries.behavior import shapley_from_masks

    merged = read_partials(spark, store_dir).groupBy("user_id", "kind").agg(
        F.min(F.struct(F.col("t").alias("t"), F.col("id").alias("id"))).alias("k")
    )
    fp = merged.where(F.col("kind") == "purchase").select(
        "user_id", F.col("k").alias("fp")
    )
    bit_expr = F.when(F.lit(False), F.lit(None).cast("int"))
    for c, b in SHAPLEY_BITS:
        bit_expr = bit_expr.when(F.col("kind") == c, F.lit(b))
    touched = (
        merged.where(F.col("kind") != "purchase")
        .join(fp, "user_id")
        .where(F.col("k") < F.col("fp"))
        .select("user_id", bit_expr.alias("b"))
        .groupBy("user_id")
        .agg(F.expr("bit_or(b)").alias("mask"))
    )
    masks = fp.join(touched, "user_id", "left").select(
        F.coalesce("mask", F.lit(0)).cast("int").alias("mask")
    )
    return shapley_from_masks(spark, masks)


def shapley_monitor(stream_df: DataFrame, store_dir: str,
                    checkpoint_dir: str):
    """Attach the monitor to a streaming events DataFrame."""
    return attach_foreach_batch(
        stream_df, lambda b, i: append_shapley_batch(b, store_dir, i), checkpoint_dir
    )

"""Streaming distribution-drift monitor: per-micro-batch bucket counts
appended as idempotent partials, PSI served on demand against a pinned
reference window.

The batch `drift_psi` query answers "did the second half of the month
drift from the first"; a production ingest wants the same answer
CONTINUOUSLY — is what's arriving NOW still shaped like the corpus the
model was trained on? This module watches the SAME features through the
shared `drift_labels` helper, so batch and streaming monitors can never
disagree about what they measure (the equivalence test pins it).

Every monitor here stores mergeable count partials in the partial store
(`operators/partials.py`) and serves by merging them into the batch
query's scoring body. State per batch is O(buckets), never O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.partials import attach_foreach_batch, read_partials, write_partial
from ..queries.data_quality import drift_labels, psi_report


def bucket_counts(ev: DataFrame) -> DataFrame:
    """(feature, label, n) counts of the drift features for a batch."""
    return drift_labels(ev).groupBy("feature", "label").agg(
        F.count(F.lit(1)).alias("n")
    )


def append_drift_batch(batch_df: DataFrame, store_dir: str, batch_id: int) -> None:
    """foreachBatch body: persist ONE micro-batch's bucket counts."""
    write_partial(bucket_counts(batch_df), store_dir, batch_id)


def serve_drift(spark, store_dir: str, reference: DataFrame) -> DataFrame:
    """Merge the streamed partials into the observed distribution and emit
    per-bucket PSI contributions vs the reference counts (feature, label,
    n). Reads O(batches x buckets) partial rows — never the stream."""
    observed = read_partials(spark, store_dir).groupBy("feature", "label").agg(
        F.sum("n").alias("n")
    )
    return psi_report(reference, observed)


def drift_monitor(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Attach the monitor to a streaming events DataFrame."""
    return attach_foreach_batch(
        stream_df, lambda b, i: append_drift_batch(b, store_dir, i), checkpoint_dir
    )


# ------------------------------------------- streaming level-shift monitor

def daily_counts(ev: DataFrame) -> DataFrame:
    """(d, x) daily event counts for a batch — mergeable partials for the
    CUSUM monitor (counts on the same day sum across batches)."""
    return ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )


def append_daily_batch(batch_df: DataFrame, store_dir: str, batch_id: int) -> None:
    """foreachBatch body for the level-shift monitor: persist one
    micro-batch's daily counts (overwrite-idempotent under replay)."""
    write_partial(daily_counts(batch_df), store_dir, batch_id, sub="daily")


def serve_change_point(spark, store_dir: str) -> DataFrame:
    """Merge the streamed daily-count partials and run the SAME exact-
    integer CUSUM scoring the batch query uses (`temporal.cusum_top`) —
    the continuously-updatable "when did the level shift" monitor. State
    is O(days), never O(events)."""
    from ..queries.temporal import cusum_top

    daily = read_partials(spark, store_dir, "daily").groupBy("d").agg(
        F.sum("x").alias("x")
    )
    return cusum_top(daily)


def level_shift_monitor(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Attach the CUSUM level-shift monitor to a streaming events frame."""
    return attach_foreach_batch(
        stream_df, lambda b, i: append_daily_batch(b, store_dir, i), checkpoint_dir
    )


# ------------------------------------------- streaming sequential test

def append_sprt_batch(batch_df: DataFrame, store_dir: str, batch_id: int) -> None:
    """foreachBatch body for the SPRT monitor: persist one micro-batch's
    per-day (successes, trials) partials (same-day partials from
    different batches sum at serve time)."""
    from ..queries.stats_models import sprt_daily_counts

    write_partial(sprt_daily_counts(batch_df), store_dir, batch_id, sub="sprt")


def serve_sprt(spark, store_dir: str) -> DataFrame:
    """Merge the streamed (day, s, n) partials and run the SAME exact-
    integer Wald scoring the batch query uses (`stats_models.sprt_score`)
    — the continuously-updatable "can we already call the experiment"
    monitor: every appended batch can only extend or tighten the verdict
    sequence, never rewrite history (partials are additive). State is
    O(days), never O(events)."""
    from ..queries.stats_models import sprt_score

    daily = read_partials(spark, store_dir, "sprt").groupBy("day").agg(
        F.sum("s").cast("long").alias("s"),
        F.sum("n").cast("long").alias("n"),
    )
    return sprt_score(daily)


def sprt_monitor(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Attach the sequential-test monitor to a streaming events frame."""
    return attach_foreach_batch(
        stream_df, lambda b, i: append_sprt_batch(b, store_dir, i), checkpoint_dir
    )


# --------------------------------- streaming Wasserstein (W1) monitor

def append_w1_batch(batch_df: DataFrame, store_dir: str, batch_id: int) -> None:
    """foreachBatch body for a streaming DOCUMENTS frame: persist one
    micro-batch's (source, bucket, n) length-bucket counts."""
    from ..queries.data_quality import length_bucket_counts

    write_partial(length_bucket_counts(batch_df), store_dir, batch_id)


def serve_w1(spark, store_dir: str, reference: DataFrame | None = None) -> DataFrame:
    """Serve per-source 1-D Wasserstein distances from the streamed
    partials — O(batches x buckets) rows read, never the stream.

    reference=None: each source vs the REST of the streamed corpus — the
    exact batch `wasserstein_source_drift` semantics (the parity test
    pins served == batch on the same data). reference=(bucket, n)
    corpus-level counts: each source's streamed distribution vs the
    PINNED reference (the production mode — is what THIS source sends
    now still shaped like the corpus the model trained on?)."""
    from ..queries.data_quality import (
        rest_of_corpus_cells,
        w1_from_cells,
    )

    merged = read_partials(spark, store_dir).groupBy("source", "bucket").agg(
        F.sum("n").cast("long").alias("n")
    )
    if reference is None:
        return w1_from_cells(rest_of_corpus_cells(merged))
    ref = reference.select("bucket", F.col("n").cast("long").alias("cb"))
    grid = (
        merged.select("bucket")
        .unionByName(ref.select("bucket"))
        .distinct()
    )
    cells = (
        merged.select("source")
        .distinct()
        .crossJoin(F.broadcast(grid))
        .join(merged.withColumnRenamed("n", "ca"), ["source", "bucket"], "left")
        .join(F.broadcast(ref), "bucket", "left")
        .select(
            "source",
            "bucket",
            F.coalesce("ca", F.lit(0)).cast("long").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("cb"),
        )
    )
    return w1_from_cells(cells)


def w1_monitor(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Attach the Wasserstein drift monitor to a streaming documents frame."""
    return attach_foreach_batch(
        stream_df, lambda b, i: append_w1_batch(b, store_dir, i), checkpoint_dir
    )


# --------------------------------- streaming burst monitor (Viterbi serve)

def serve_burst(spark, store_dir: str):
    """Merge the streamed daily-count partials (the `daily_counts`
    store the CUSUM monitor already writes — counts are additive, so
    the same partials feed both monitors) and run the SAME two-state
    Viterbi scoring body the batch `burst_detection_days` query uses
    (`temporal.burst_label_days`) — the continuously-updatable "are we
    inside a burst episode" monitor. State is O(days), never
    O(events)."""
    from ..queries.temporal import burst_label_days

    daily = (
        read_partials(spark, store_dir, "daily")
        .groupBy("d")
        .agg(F.sum("x").cast("long").alias("x"))
        .select(F.col("d").alias("day"), "x")
    )
    return burst_label_days(daily)

"""Streaming quantile-rollup monitor: per-micro-batch mergeable R-rank
summaries appended as idempotent partials, p25/p50/p90/p99 served from
the bounded summary table.

The batch `quantile_summary_rollup` query builds per-day equi-depth
summaries and serves global quantiles by merging them; a production
ingest wants the same percentiles CONTINUOUSLY without ever rescanning
the stream. This twin appends each micro-batch's per-day summary (the
SAME `qsr_summaries` body the batch query runs) to a partial store and
serves with the SAME `qsr_estimates` weighted-CDF merge — the two tiers
share their scoring bodies verbatim, so they cannot drift (the
`streaming/drift.py` W1 pattern applied to a non-additive statistic).

Mergeability: a summary row set weights each of its R rank values by its
slice's row count, and `qsr_estimates` only reads (v_r, n_d) — so
per-(batch, day) segment summaries merge exactly like per-day ones.
When each day arrives wholly in one micro-batch (the daily-ingest
cadence), the union of streamed summaries IS the batch query's summary
table and the served estimates are bit-identical (parity-pinned in
`tests/test_streaming_quantiles.py`). When a day straddles batches, each
segment contributes its own R-rank summary; the per-segment CDF shift is
up to segment-mass/R and shifts add across segments, so the worst-case
rank error stays the SAME ~1/R of total mass as the batch tier's bound —
but misaligned segment boundaries realize more of it (measured ~3.1% at
the 1/R=32 bound, vs <= 1.7% day-aligned). The split-day test pins the
served estimates inside the 1/R envelope; the summary table stays
bounded at segments x R rows.

State per batch is O(days-in-batch x R), never O(rows), kept in the
partial store (`operators/partials.py`; compactable by re-summarizing,
since the merge is associative).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.partials import attach_foreach_batch, read_partials, write_partial
from ..queries.olap_extras import qsr_day_values, qsr_estimates, qsr_summaries


def append_quantile_batch(
    batch_df: DataFrame, store_dir: str, batch_id: int
) -> None:
    """foreachBatch body for a streaming EVENTS frame: persist one
    micro-batch's per-day R-rank summaries."""
    write_partial(qsr_summaries(qsr_day_values(batch_df)), store_dir, batch_id)


def serve_quantiles(spark, store_dir: str) -> DataFrame:
    """Serve (q_bp, est_milli, n_total) from the streamed summary
    partials — O(batches x days x R) rows read, never the stream. The
    merge body is the batch query's `qsr_estimates` verbatim."""
    return qsr_estimates(read_partials(spark, store_dir)).select(
        F.col("q").alias("q_bp"),
        "est_milli",
        F.col("n").alias("n_total"),
    )


def quantile_monitor(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Attach the quantile-rollup monitor to a streaming events frame."""
    return attach_foreach_batch(
        stream_df, lambda b, i: append_quantile_batch(b, store_dir, i), checkpoint_dir
    )

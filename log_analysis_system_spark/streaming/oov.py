"""Streaming tokenizer-coverage (OOV) monitor: per-micro-batch per-source
OOV/token counters appended as idempotent partials, served by merging —
the continuous form of the batch `bpe_oov_audit`.

A production ingest wants to know CONTINUOUSLY whether arriving text
still fits the shipped tokenizer: a source whose OOV rate or
char-fallback token overhead spikes has drifted from the training
distribution (new language, new markup, encoding regression). Batch and
stream score through the SHARED `queries.bpe.oov_score` helper against
the same trained vocab map, so they cannot disagree about the rule —
the equivalence test pins served == batch on identical data (the
drift_psi monitor pattern).

Every counter is a mergeable sum kept in the partial store
(`operators/partials.py`); serving reads O(batches x sources) partial
rows, never the stream. The trained vocab is pinned at monitor-attach time
(a tokenizer in production is a frozen artifact; retrain => new store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.partials import attach_foreach_batch, read_partials, write_partial
from ..queries.bpe import oov_score


def append_oov_batch(
    batch_df: DataFrame, vocab_map: DataFrame, store_dir: str, batch_id: int
) -> None:
    """foreachBatch body: persist ONE micro-batch's per-source counters."""
    write_partial(oov_score(batch_df, vocab_map), store_dir, batch_id)


def serve_oov(spark, store_dir: str) -> DataFrame:
    """Merge streamed partials into the cumulative per-source audit —
    identical columns (and, on identical data, identical values) to the
    batch `bpe_oov_audit`."""
    return read_partials(spark, store_dir).groupBy("source").agg(
        F.sum("n_words").alias("n_words"),
        F.sum("n_oov_words").alias("n_oov_words"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
    )


def oov_monitor(
    stream_df: DataFrame,
    vocab_map: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
):
    """Attach the monitor to a streaming documents DataFrame."""
    return attach_foreach_batch(
        stream_df,
        lambda b, i: append_oov_batch(b, vocab_map, store_dir, i),
        checkpoint_dir,
    )

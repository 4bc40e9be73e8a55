"""Incrementally-trained Naive Bayes: per-micro-batch count partials
appended idempotently, the SAME model served through the batch scoring
body.

The NB model is a pure function of two count tables — (class, word)
token counts and per-class doc counts — and counts are SUM-mergeable,
so the trainer is an incremental-view-maintenance problem, not a
retraining problem: each micro-batch of TRAIN docs appends its own
bounded partials to the partial store (`operators/partials.py`), and
serving merges the partials and calls
`queries.nbayes.nb_confusion_from_counts` on whatever eval set the
caller supplies. Per-class token totals, vocabulary size, and
priors all DERIVE from the merged counts, so no other state exists.

The parity test pins: streamed-trained model == the batch
`nb_lang_confusion` query (identical confusion matrix) when the
streamed train data equals the batch train split — including the case
where one class's docs are concentrated in a single late batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.partials import attach_foreach_batch, read_partials, write_partial
from ..queries.nbayes import nb_count_partials


def append_nb_batch(batch_df: DataFrame, store_dir: str,
                    batch_id: int) -> None:
    """foreachBatch body for a streaming TRAIN-docs frame: persist one
    batch's token-count and doc-count partials."""
    cw, dc = nb_count_partials(batch_df)
    write_partial(cw, store_dir, batch_id, sub="cw")
    write_partial(dc, store_dir, batch_id, sub="dc")


def serve_nb_confusion(spark, store_dir: str,
                       eval_docs: DataFrame) -> DataFrame:
    """Score eval_docs (doc_id, true_lang, text) with the incrementally
    trained model — O(model) rows read from the store, never the train
    stream."""
    from ..queries.nbayes import nb_confusion_from_counts

    cw = read_partials(spark, store_dir, "cw").groupBy("lang", "word").agg(
        F.sum("c_cw").cast("long").alias("c_cw")
    )
    dc = read_partials(spark, store_dir, "dc").groupBy("lang").agg(
        F.sum("d_c").cast("long").alias("d_c")
    )
    return nb_confusion_from_counts(spark, cw, dc, eval_docs)


def nb_trainer(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Attach the incremental trainer to a streaming TRAIN-docs frame."""
    return attach_foreach_batch(
        stream_df, lambda b, i: append_nb_batch(b, store_dir, i), checkpoint_dir
    )

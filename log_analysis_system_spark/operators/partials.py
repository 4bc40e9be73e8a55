"""The partial store: the one layout every append-only per-batch store uses
(the rollup store, the IVM view, the streaming monitors).

Each ingest batch writes its partial aggregate to
``<store>/<sub>/batch=<id>`` with an overwrite. A partial is a
deterministic function of its batch, so a replayed batch (``foreachBatch``
re-runs the last batch after a crash before its commit) rewrites its own
dir byte-identically: exactly-once without marker files, the sink contract
of the Structured Streaming paper. Serving reads every partial in ONE
multi-path scan and merges with the store's own monoid (sum, min, ...),
so the plan holds one scan and no per-batch Union however many batches
there are (pinned by tests/test_partials.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_PREFIX = "batch="


def write_partial(
    df: DataFrame, store_dir: str, batch_id: int, sub: str = "batches"
) -> None:
    """Persist one batch's partial, overwriting a replay of the same batch."""
    df.write.mode("overwrite").parquet(
        os.path.join(store_dir, sub, f"{_PREFIX}{batch_id}")
    )


def partial_dirs(store_dir: str, sub: str = "batches") -> list[tuple[int, str]]:
    """(batch id, path) of every partial under ``<store>/<sub>``, in
    numeric id order; ``[]`` when the store does not exist yet."""
    root = os.path.join(store_dir, sub)
    if not os.path.isdir(root):
        return []
    return sorted(
        (int(d[len(_PREFIX):]), os.path.join(root, d))
        for d in os.listdir(root)
        if d.startswith(_PREFIX) and d[len(_PREFIX):].isdigit()
    )


def read_partials(spark, store_dir: str, sub: str = "batches") -> DataFrame:
    """Every partial of ``<store>/<sub>`` as one multi-path parquet scan."""
    dirs = [d for _, d in partial_dirs(store_dir, sub)]
    if not dirs:
        raise FileNotFoundError(
            f"no partials under {os.path.join(store_dir, sub)}"
        )
    return spark.read.parquet(*dirs)


def attach_foreach_batch(stream_df: DataFrame, body, checkpoint_dir: str):
    """Start ``stream_df`` with ``body(batch_df, batch_id)`` run per
    micro-batch; the checkpoint makes a crashed batch replay its own id."""
    return (
        stream_df.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )

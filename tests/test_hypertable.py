"""Hypertable rollup: the partial-aggregate merge algebra must be lossless —
merge(rollup(A), rollup(B)) == rollup(A ∪ B) for any split, which is what
lets a materialized rollup + raw tail stand in for a full raw scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from log_analysis_system_spark.operators.hypertable import (
    merge_rollups,
    rollup_events,
)
from log_analysis_system_spark.sources.catalog import read_events
from tests.conftest import SF_DIR


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_is_lossless_for_any_split(spark):
    ev = read_events(spark, SF_DIR)
    direct = rollup_events(ev, "hour", ["event_type"])

    # Arbitrary non-time-aligned split: rows interleave across buckets, so
    # the merge must combine partials within the same bucket, not just
    # concatenate disjoint ones.
    part_a = ev.where(F.col("event_id") % 3 == 0)
    part_b = ev.where(F.col("event_id") % 3 != 0)
    merged = merge_rollups(
        rollup_events(part_a, "hour", ["event_type"]),
        rollup_events(part_b, "hour", ["event_type"]),
    )
    assert _canon(merged) == _canon(direct)


def test_incremental_maintenance_step(spark):
    ev = read_events(spark, SF_DIR)
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    existing = rollup_events(ev.where(F.col("ts") < cutoff), "day")
    batch = ev.where(F.col("ts") >= cutoff)
    updated = merge_rollups(existing, rollup_events(batch, "day"))
    assert _canon(updated) == _canon(rollup_events(ev, "day"))


def test_incremental_store_lifecycle(spark, tmp_path):
    """Persisted incremental maintenance: per-batch partial appends merge
    to exactly the full recompute; a REPLAYED batch changes nothing
    (idempotence without markers); compaction preserves the view and
    collapses the live dirs to one base."""
    import os

    from log_analysis_system_spark.operators.hypertable import (
        append_rollup_batch,
        compact_rollup,
        serve_rollup,
    )

    ev = read_events(spark, SF_DIR).select("ts", "value")
    store = str(tmp_path / "store")
    # three ingest batches split by event hash
    parts = [ev.where(F.abs(F.hash("ts", "value")) % 3 == i) for i in range(3)]
    for i, p in enumerate(parts):
        append_rollup_batch(p, store, batch_id=i)

    full = _canon(rollup_events(ev))
    assert _canon(serve_rollup(spark, store)) == full

    # replay batch 1 (crash-retry): byte-identical overwrite, same view
    append_rollup_batch(parts[1], store, batch_id=1)
    assert _canon(serve_rollup(spark, store)) == full

    # compact: one base dir, same view; late batch after compaction merges
    compact_rollup(spark, store)
    assert _canon(serve_rollup(spark, store)) == full
    assert os.path.exists(os.path.join(store, "_base_pointer.json"))
    live_batches = [
        d for d in os.listdir(os.path.join(store, "batches"))
        if d.startswith("batch=")
    ]
    assert live_batches == []

    # new batch after compaction: view = full history again
    append_rollup_batch(parts[0], store, batch_id=3)
    both = merge_rollups(rollup_events(ev), rollup_events(parts[0]))
    assert _canon(serve_rollup(spark, store)) == _canon(both)


def test_streaming_materialized_rollup(spark, tmp_path):
    """Streaming -> incremental store: foreachBatch appends each
    micro-batch's partials under its batch_id (replay-idempotent by
    construction), and serve_rollup equals the batch rollup of everything
    streamed — an exactly-once streaming materialized view with no
    marker files."""
    import json as _json

    from log_analysis_system_spark.operators.hypertable import (
        append_rollup_batch,
        serve_rollup,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    rows = [
        {"ts": f"2024-01-01 0{h}:{m:02d}:00", "value": float(h * 10 + m)}
        for h in range(3)
        for m in (0, 15, 45)
    ]
    for i, chunk in enumerate([rows[:4], rows[4:]]):
        with open(inp / f"c{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")

    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(inp))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: append_rollup_batch(
                batch_df, store, batch_id
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    batch = spark.createDataFrame(
        [(r["ts"], r["value"]) for r in rows], "ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    assert _canon(serve_rollup(spark, store)) == _canon(rollup_events(batch))


def test_time_travel_snapshot_reads(spark, tmp_path):
    """serve_rollup(as_of_batch=k) must equal the rollup of batches 0..k's
    raw rows; snapshots older than the compaction high-water mark raise the
    retention error; snapshots at/after it keep working."""
    import pytest as _pytest

    from log_analysis_system_spark.operators.hypertable import (
        append_rollup_batch,
        compact_rollup,
        serve_rollup,
    )

    ev = read_events(spark, SF_DIR).select("ts", "value")
    store = str(tmp_path / "store")
    parts = [ev.where(F.abs(F.hash("ts", "value")) % 3 == i) for i in range(3)]
    for i, p in enumerate(parts):
        append_rollup_batch(p, store, batch_id=i)

    # snapshot after each batch == rollup of the prefix union
    prefix = parts[0]
    assert _canon(serve_rollup(spark, store, as_of_batch=0)) == _canon(
        rollup_events(prefix)
    )
    prefix = prefix.unionByName(parts[1])
    assert _canon(serve_rollup(spark, store, as_of_batch=1)) == _canon(
        rollup_events(prefix)
    )
    full = _canon(rollup_events(ev))
    assert _canon(serve_rollup(spark, store, as_of_batch=2)) == full
    # as_of beyond the newest batch = current view
    assert _canon(serve_rollup(spark, store, as_of_batch=99)) == full

    # compaction folds batches 0..2 into the base: snapshot 1 is gone
    # (retention), snapshot >= high-water mark still serves
    compact_rollup(spark, store)
    with _pytest.raises(ValueError, match="compaction high-water mark"):
        serve_rollup(spark, store, as_of_batch=1)
    assert _canon(serve_rollup(spark, store, as_of_batch=2)) == full

    # a post-compaction batch is excluded from the as_of=2 snapshot but
    # included in the current view
    append_rollup_batch(parts[0], store, batch_id=3)
    assert _canon(serve_rollup(spark, store, as_of_batch=2)) == full
    both = merge_rollups(rollup_events(ev), rollup_events(parts[0]))
    assert _canon(serve_rollup(spark, store)) == _canon(both)


def test_second_compaction_keeps_high_water_mark(spark, tmp_path):
    """A compaction with no batch above the pointer is a no-op: the
    high-water mark never moves back, so snapshots it retired stay
    retired and a replay of an already-folded batch is not counted
    twice."""
    import pytest as _pytest

    from log_analysis_system_spark.operators.hypertable import (
        append_rollup_batch,
        compact_rollup,
        serve_rollup,
    )

    ev = read_events(spark, SF_DIR).select("ts", "value")
    store = str(tmp_path / "store")
    parts = [ev.where(F.abs(F.hash("ts", "value")) % 3 == i) for i in range(3)]
    for i, p in enumerate(parts):
        append_rollup_batch(p, store, batch_id=i)
    full = _canon(rollup_events(ev))

    compact_rollup(spark, store)
    compact_rollup(spark, store)
    assert _canon(serve_rollup(spark, store)) == full
    with _pytest.raises(ValueError, match="compaction high-water mark"):
        serve_rollup(spark, store, as_of_batch=0)

    # crash replay of batch 1, which the first compaction folded in
    append_rollup_batch(parts[1], store, batch_id=1)
    assert _canon(serve_rollup(spark, store)) == full

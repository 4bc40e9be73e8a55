"""Hypertable-style continuous aggregates: time-bucketed rollups with a
lossless merge algebra.

Beyond the reference (whose only time aggregation is the ad-hoc
``yyyy-MM-dd_HH`` string keys, reference: src/main/java/com/soto/util/
DateUtils.java:103-110 + UserVisitSessionAnalyzeSpark.java:712-736): a
100 TB event store cannot re-scan raw history for every dashboard query.
The standard fix is a materialized time-bucket rollup maintained
incrementally — queries read the rolled-up history plus a rollup of the raw
tail, merged.

The invariant that makes this correct is that every stored measure is a
PARTIAL aggregate with a merge operation: count/sum merge by sum, min/max
by min/max. ``merge_rollups(rollup(A), rollup(B)) == rollup(A ∪ B)`` exactly
(the unit test pins this), so serving rollup(history) ⊎ rollup(tail) is
indistinguishable from scanning everything. Averages are derived at read
time (sum/count); exact distinct counts are NOT mergeable — at scale store
an HLL sketch per bucket and union sketches instead.

Measures are aggregated in integer milli-units (round(value*1000)) per the
repo determinism policy — double sums are order-dependent, integer sums are
exact in any partitioning.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partials import partial_dirs, write_partial

#: measure columns every rollup table carries, and how they merge.
_MERGES = {
    "n_events": F.sum,
    "sum_v_milli": F.sum,
    "min_v_milli": F.min,
    "max_v_milli": F.max,
}


def rollup_events(
    df: DataFrame,
    bucket: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Aggregate raw events into one row per (time bucket, *keys) carrying
    partial aggregates. One shuffle; map-side combine applies."""
    keys = keys or []
    v_milli = F.round(F.col(value_col) * 1000).cast("long")
    return (
        df.groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"), *keys
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(v_milli).alias("sum_v_milli"),
            F.min(v_milli).alias("min_v_milli"),
            F.max(v_milli).alias("max_v_milli"),
        )
    )


def merge_rollups(*rollups: DataFrame) -> DataFrame:
    """Combine rollup tables over disjoint (or overlapping-in-time, disjoint-
    in-rows) inputs into one: the incremental-maintenance step
    (``merge_rollups(existing, rollup_events(new_batch))``) and the serving
    step (history ⊎ raw tail) are the same operation."""
    out = rollups[0]
    for r in rollups[1:]:
        out = out.unionByName(r)
    group_cols = [c for c in out.columns if c not in _MERGES]
    return out.groupBy(*group_cols).agg(
        *[fn(c).alias(c) for c, fn in _MERGES.items()]
    )


# ---------------------------------------------- persisted incremental store
#
# Layout (operators/partials.py): ingest partials under ``batches/``, the
# compacted base under ``base/batch=<high-water mark>``, and
# ``_base_pointer.json`` naming the committed base and its mark.

def append_rollup_batch(
    events_batch: DataFrame,
    store_dir: str,
    batch_id: int,
    bucket: str = "hour",
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """Incremental-maintenance write path: roll up ONE ingest batch into
    its replay-idempotent partial. History is never rewritten (a
    merge-into-place refresh double-merges a delta replayed after a crash
    between data write and marker); serving merges partials
    (`serve_rollup`); `compact_rollup` bounds the batch-dir count."""
    write_partial(
        rollup_events(
            events_batch, bucket=bucket, keys=keys, ts_col=ts_col,
            value_col=value_col,
        ),
        store_dir,
        batch_id,
    )


def _pointer(store_dir: str) -> tuple[str | None, int]:
    """(committed base dir or None, compaction high-water mark)."""
    ptr = os.path.join(store_dir, "_base_pointer.json")
    if not os.path.exists(ptr):
        return None, -1
    with open(ptr) as f:
        meta = json.load(f)
    return os.path.join(store_dir, meta["base"]), meta["upto"]


def _live_dirs(store_dir: str, as_of_batch: int | None = None) -> list[str]:
    """Current batch/base dirs: the compaction pointer names a base dir;
    batch dirs newer than the pointer's high-water mark are live. With
    ``as_of_batch``, only partials at or below that batch id participate —
    the snapshot-read path. Snapshots below the compaction high-water mark
    no longer exist (their batch dirs were folded into the base), which is
    the standard retention contract of a compacting store: raise a clear
    error instead of silently serving the wrong snapshot."""
    base, upto = _pointer(store_dir)
    if as_of_batch is not None and as_of_batch < upto:
        raise ValueError(
            f"snapshot batch={as_of_batch} predates the compaction "
            f"high-water mark (batch={upto}); compacted history is not "
            f"retained — raise the compaction cadence or archive batch "
            f"dirs to keep deeper time travel"
        )
    return ([base] if base else []) + [
        d
        for bid, d in partial_dirs(store_dir)
        if bid > upto and (as_of_batch is None or bid <= as_of_batch)
    ]


def serve_rollup(
    spark, store_dir: str, as_of_batch: int | None = None
) -> DataFrame:
    """Serving path: merge the persisted partials (compacted base + live
    batch dirs, one scan) into the current continuous-aggregate view —
    identical to rolling up all raw history (the merge-algebra invariant,
    tested), but reading only O(buckets) partial rows.

    ``as_of_batch`` gives a TIME-TRAVEL read: the view as of that ingest
    batch (inclusive). Because history is append-only partials, a snapshot
    is just "merge fewer dirs" — no undo log, no version manifests beyond
    the compaction pointer. Snapshots older than the last compaction are
    gone by design (ValueError); everything newer stays readable until the
    next compaction folds it in."""
    dirs = _live_dirs(store_dir, as_of_batch)
    if not dirs:
        raise FileNotFoundError(f"no rollup partials under {store_dir}")
    return merge_rollups(spark.read.parquet(*dirs))


def compact_rollup(spark, store_dir: str) -> None:
    """Compaction: merge every live partial into one new base dir and
    commit it with an ATOMIC pointer-file swap (write `_base_pointer.json`
    aside, `os.replace` into place) — a crash before the swap leaves the
    old pointer and the old read path fully intact; batch dirs at or below
    the new high-water mark and superseded bases become dead and are
    removed only AFTER the commit (best-effort; leftovers are ignored by
    `_live_dirs`).

    The new mark is the newest live batch id, so it never moves back. With
    no batch above the mark the base is already current and compaction is
    a no-op (rewriting it would overwrite the dir being read)."""
    base, upto = _pointer(store_dir)
    fresh = [(bid, d) for bid, d in partial_dirs(store_dir) if bid > upto]
    if not fresh:
        if base is None:
            raise FileNotFoundError(f"nothing to compact under {store_dir}")
        return
    upto = fresh[-1][0]
    dirs = ([base] if base else []) + [d for _, d in fresh]
    write_partial(
        merge_rollups(spark.read.parquet(*dirs)),
        store_dir,
        upto,
        sub="base",
    )
    bases = dict(partial_dirs(store_dir, "base"))
    tmp = os.path.join(store_dir, "_base_pointer.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"base": os.path.relpath(bases[upto], store_dir), "upto": upto}, f)
    os.replace(tmp, os.path.join(store_dir, "_base_pointer.json"))  # commit
    # post-commit cleanup: dead batch dirs and superseded bases
    dead = [d for bid, d in partial_dirs(store_dir) if bid <= upto]
    dead += [d for bid, d in bases.items() if bid != upto]
    for d in dead:
        shutil.rmtree(d, ignore_errors=True)

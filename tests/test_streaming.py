"""Structured Streaming tests (SURVEY §5 item 3): the DStream job's semantics
(ST1-ST6) driven batch-by-batch through a real file-source stream — no Kafka
needed; the transformations are source-agnostic."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from log_analysis_system_spark.streaming.ad_analytics import (
    BLACKLIST_THRESHOLD,
    AdAnalyticsPipeline,
    build_file_stream,
    parse_ad_click_log,
    province_top3,
    sliding_window_counts,
)

BASE_MS = 1704067200000  # 2024-01-01 00:00:00 UTC


def _record(offset_s: int, province: str, city: str, user: int, ad: int) -> str:
    return f"{BASE_MS + offset_s * 1000} {province} {city} {user} {ad}"


def _write_chunk(path: str, name: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(path, name))


@pytest.fixture()
def stream_env(tmp_path):
    return {
        "input": str(tmp_path / "input"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def test_parse_ad_click_log(spark):
    raw = spark.createDataFrame(
        [(_record(0, "Jiangsu", "Nanjing", 7, 3),)], "value string"
    )
    row = parse_ad_click_log(raw).collect()[0]
    assert row["province"] == "Jiangsu"
    assert row["city"] == "Nanjing"
    assert row["user_id"] == 7 and row["ad_id"] == 3
    assert row["date_key"] == "2024-01-01"
    assert row["ts"].isoformat().startswith("2024-01-01T00:00:00")


def test_blacklist_feedback_loop(spark, stream_env):
    """ST3: a user crossing the threshold in batch 1 must be anti-joined out
    of batch 2 — the cross-batch feedback edge the reference routes through
    MySQL (AdClickRealTimeSpark.java:96-99,232-403)."""
    pipe = AdAnalyticsPipeline(stream_env["state"])

    # batch 1: user 1 clicks ad 9 three times (crosses threshold of 2);
    # user 2 clicks once.
    _write_chunk(
        stream_env["input"],
        "batch1.txt",
        [_record(i, "Jiangsu", "Nanjing", 1, 9) for i in range(3)]
        + [_record(10, "Zhejiang", "Hangzhou", 2, 5)],
    )
    stream = build_file_stream(spark, stream_env["input"])
    q = pipe.start(stream, stream_env["ckpt"])
    q.processAllAvailable()

    blk = {r["user_id"] for r in pipe.blacklist(spark).collect()}
    assert blk == {1}, f"user 1 should be blacklisted, got {blk}"
    counts = {
        (r["user_id"], r["ad_id"]): r["click_count"]
        for r in pipe.user_counts(spark).collect()
    }
    assert counts[(1, 9)] == 3 and counts[(2, 5)] == 1

    # batch 2: blacklisted user 1 clicks again -> must NOT increment state;
    # user 2 clicks twice more -> crosses threshold, joins blacklist.
    _write_chunk(
        stream_env["input"],
        "batch2.txt",
        [_record(100 + i, "Jiangsu", "Nanjing", 1, 9) for i in range(5)]
        + [_record(110 + i, "Zhejiang", "Hangzhou", 2, 5) for i in range(2)],
    )
    q.processAllAvailable()
    q.stop()

    counts = {
        (r["user_id"], r["ad_id"]): r["click_count"]
        for r in pipe.user_counts(spark).collect()
    }
    assert counts[(1, 9)] == 3, "blacklisted user's clicks must be filtered"
    assert counts[(2, 5)] == 3
    blk = {r["user_id"] for r in pipe.blacklist(spark).collect()}
    assert blk == {1, 2}

    # ST4 cumulative stats reflect only clean traffic.
    stats = {
        (r["province"], r["ad_id"]): r["click_count"]
        for r in pipe.stats(spark).collect()
    }
    assert stats[("Jiangsu", 9)] == 3
    assert stats[("Zhejiang", 5)] == 3


def test_province_top3_rank_semantics(spark):
    """ST5/W2: rank<=3 per (date, province) with deterministic tie-break —
    the documented intent, not the reference's `rank>=3` bug (:658)."""
    rows = [
        ("2024-01-01", "Jiangsu", "NJ", ad, cnt)
        for ad, cnt in [(1, 50), (2, 40), (3, 30), (4, 20), (5, 10)]
    ]
    df = spark.createDataFrame(
        rows, "date_key string, province string, city string, ad_id long, "
        "click_count long"
    )
    out = province_top3(df).orderBy("rnk").collect()
    assert [r["ad_id"] for r in out] == [1, 2, 3]
    assert [r["rnk"] for r in out] == [1, 2, 3]


def test_sliding_window_counts(spark, stream_env):
    """ST6: 60s window / 10s slide (scaled-down) — each event lands in
    window/slide = 6 windows; counts align with the batch F.window oracle."""
    _write_chunk(
        stream_env["input"],
        "w.txt",
        [_record(0, "P", "C", 1, 1), _record(5, "P", "C", 2, 1),
         _record(30, "P", "C", 3, 1)],
    )
    stream = build_file_stream(spark, stream_env["input"])
    windowed = sliding_window_counts(
        stream, window="60 seconds", slide="10 seconds", watermark="0 seconds"
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("sliding_out")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["window_start"].isoformat(), r["ad_id"]): r["click_count"]
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    # the window [00:00:00, 00:01:00) contains all three events
    assert got[("2024-01-01T00:00:00", 1)] == 3
    # the window [00:00:30, 00:01:30) contains only the t=30 event
    assert got[("2024-01-01T00:00:30", 1)] == 1
    # events at t=0,5 share 6 windows each; t=30 in its own later windows
    assert all(c >= 1 for c in got.values())


def test_kafka_source_unavailable_is_clear(spark):
    """S4: without Kafka jars the builder must fail with actionable guidance,
    not a bare Java stack."""
    from log_analysis_system_spark.streaming.ad_analytics import build_kafka_stream

    with pytest.raises(Exception) as exc_info:
        build_kafka_stream(spark, "localhost:9092")
    msg = str(exc_info.value)
    assert "kafka" in msg.lower()


def test_checkpoint_recovery_no_double_count(spark, stream_env):
    """ST2: kill the query, restart from the SAME checkpoint, feed new data —
    state must continue exactly (no replayed increments, no lost batches).
    The reference leaned on DStream checkpoint + getOrCreate
    (AdClickRealTimeSpark.java:64,822-874); Structured Streaming's
    checkpointLocation gives the same recovery contract per query."""
    pipe = AdAnalyticsPipeline(stream_env["state"])

    _write_chunk(
        stream_env["input"],
        "b1.txt",
        [_record(i, "Jiangsu", "Nanjing", 1, 9) for i in range(3)],
    )
    q = pipe.start(build_file_stream(spark, stream_env["input"]), stream_env["ckpt"])
    q.processAllAvailable()
    q.stop()

    counts = {
        (r["user_id"], r["ad_id"]): r["click_count"]
        for r in pipe.user_counts(spark).collect()
    }
    assert counts[(1, 9)] == 3

    # Restart from the same checkpoint; add one new file. Only the new file
    # may be processed — a replay of b1 would double user 1's count.
    pipe2 = AdAnalyticsPipeline(stream_env["state"])
    _write_chunk(
        stream_env["input"],
        "b2.txt",
        [_record(50 + i, "Zhejiang", "Hangzhou", 2, 5) for i in range(2)],
    )
    q2 = pipe2.start(
        build_file_stream(spark, stream_env["input"]), stream_env["ckpt"]
    )
    q2.processAllAvailable()
    q2.stop()

    counts = {
        (r["user_id"], r["ad_id"]): r["click_count"]
        for r in pipe2.user_counts(spark).collect()
    }
    assert counts[(1, 9)] == 3, "restart replayed already-committed batch"
    assert counts[(2, 5)] == 2, "post-restart batch lost"


def test_watermark_drops_late_data(spark, stream_env):
    """ST7: an event arriving far behind the watermark must be dropped from
    the aggregation (append mode), not silently merged — the defined-lateness
    behavior the reference's DStream pipeline lacks entirely."""
    # batch 1: events at t=0 and t=600 (the latter advances the watermark to
    # t=590 with a 10s bound; windows ending before that can finalize).
    _write_chunk(
        stream_env["input"], "b1.txt",
        [_record(0, "P", "C", 1, 1), _record(600, "P", "C", 2, 1)],
    )
    stream = build_file_stream(spark, stream_env["input"])
    windowed = sliding_window_counts(
        stream, window="60 seconds", slide="60 seconds", watermark="10 seconds"
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()

    # batch 2: a very late straggler back at t=5 — behind the watermark, its
    # window [0,60) already finalized; it must not resurrect or re-emit it.
    _write_chunk(stream_env["input"], "b2.txt", [_record(5, "P", "C", 3, 1)])
    q.processAllAvailable()
    # advance watermark far enough to flush every remaining window.
    _write_chunk(stream_env["input"], "b3.txt", [_record(1200, "P", "C", 4, 1)])
    q.processAllAvailable()
    q.stop()

    got = {
        (r["window_start"].isoformat(), r["ad_id"]): r["click_count"]
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # window [0,60) holds ONLY the on-time t=0 event; the t=5 straggler is gone
    assert got[("2024-01-01T00:00:00", 1)] == 1


def test_batch_replay_is_idempotent(spark, stream_env, tmp_path):
    """A foreachBatch re-execution with the SAME batch_id (crash between the
    state commit and the checkpoint commit) must not double-count: the
    _applied_batch marker committed by the partition swap makes the replay a
    per-partition no-op."""
    pipe = AdAnalyticsPipeline(stream_env["state"])
    batch = parse_ad_click_log(
        spark.createDataFrame(
            [(_record(i, "Jiangsu", "Nanjing", 1, 9),) for i in range(3)]
            + [(_record(10, "Zhejiang", "Hangzhou", 2, 5),)],
            "value string",
        )
    )
    pipe.process_batch(batch, 0)
    first = {
        (r["user_id"], r["ad_id"]): r["click_count"]
        for r in pipe.user_counts(spark).collect()
    }
    assert first[(1, 9)] == 3 and first[(2, 5)] == 1

    # the replay: same DataFrame, same batch_id
    pipe.process_batch(batch, 0)
    replayed = {
        (r["user_id"], r["ad_id"]): r["click_count"]
        for r in pipe.user_counts(spark).collect()
    }
    assert replayed == first, "replayed batch must not double-count"
    stats = {
        (r["province"], r["ad_id"]): r["click_count"]
        for r in pipe.stats(spark).collect()
    }
    assert stats[("Jiangsu", 9)] == 3 and stats[("Zhejiang", 5)] == 1
    # a genuinely NEW batch id still folds in
    pipe.process_batch(batch, 1)
    after = {
        (r["user_id"], r["ad_id"]): r["click_count"]
        for r in pipe.user_counts(spark).collect()
    }
    # user 1 is blacklisted by batch 0 (3 > threshold) so only user 2 grows
    assert after[(1, 9)] == 3 and after[(2, 5)] == 2


def test_batch_touches_only_its_date_partitions(spark, stream_env):
    """O(batch) state maintenance: a batch for day 2 must not rewrite day 1's
    partition files (at 100 TB of accumulated state, rewriting untouched
    dates is the scale-killer the reference's full-table upsert had)."""
    import glob

    pipe = AdAnalyticsPipeline(stream_env["state"])
    day1 = parse_ad_click_log(
        spark.createDataFrame(
            [(_record(0, "Jiangsu", "Nanjing", 1, 9),)], "value string"
        )
    )
    pipe.process_batch(day1, 0)
    p1 = os.path.join(pipe.user_counts_path, "date_key=2024-01-01")
    before = {
        f: os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(p1, "*"))
    }
    assert before, "day-1 partition should exist"

    day2 = parse_ad_click_log(
        spark.createDataFrame(
            [(_record(86_400 + i, "Zhejiang", "Hangzhou", 2, 5),)
             for i in range(2)],
            "value string",
        )
    )
    pipe.process_batch(day2, 1)
    after = {
        f: os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(p1, "*"))
    }
    assert after == before, "day-1 partition files were rewritten by a day-2 batch"
    counts = {
        (r["date_key"], r["user_id"]): r["click_count"]
        for r in pipe.user_counts(spark).collect()
    }
    assert counts[("2024-01-01", 1)] == 1
    assert counts[("2024-01-02", 2)] == 2


def test_swap_in_crash_windows_recoverable(spark, stream_env):
    """The two-rename commit must leave a recoverable directory whatever the
    crash point, healed by the recovery every batch runs before it reads
    state: aside-renamed-but-new-never-landed restores the OLD state (and
    the replay re-merges); landed-but-aside-cleanup-lost finishes the
    cleanup; a stray uncommitted .tmp- staging dir is swept. The old
    rmtree-then-rename commit failed the first window by deleting history
    pre-commit."""
    import os
    import shutil

    pipe = AdAnalyticsPipeline(stream_env["state"])
    batch = parse_ad_click_log(
        spark.createDataFrame(
            [(_record(3, "Jiangsu", "Nanjing", 7, 4),)], "value string"
        )
    )
    pipe.process_batch(batch, 0)
    root = pipe.user_counts_path
    part = next(
        os.path.join(root, d) for d in os.listdir(root) if d.startswith("date_key=")
    )

    # window 1: old renamed aside, new never landed
    os.rename(part, part + ".prev")
    pipe._recover()  # what process_batch runs first
    assert os.path.isdir(part) and not os.path.isdir(part + ".prev")
    assert pipe.user_counts(spark).count() == 1
    assert AdAnalyticsPipeline._applied_batch(part) == 0

    # window 2: new landed, aside cleanup lost
    shutil.copytree(part, part + ".prev")
    pipe.process_batch(batch, 1)  # heals, then applies batch 1
    assert not os.path.isdir(part + ".prev")
    row = pipe.user_counts(spark).collect()[0]
    assert row["click_count"] == 2  # batch 0 + batch 1, no double-apply

    # window 3: the staging dir of a crashed write, beside the table root
    staging = root + ".tmp-deadbeef"
    shutil.copytree(part, os.path.join(staging, os.path.basename(part)))
    pipe._recover()
    assert not os.path.isdir(staging)


def _frame(spark, lines):
    return parse_ad_click_log(
        spark.createDataFrame([(line,) for line in lines], "value string")
    )


def test_blacklist_rewritten_only_when_a_user_is_minted(spark, stream_env):
    """A batch that blacklists nobody new leaves the blacklist files alone."""
    import glob

    pipe = AdAnalyticsPipeline(stream_env["state"])
    pipe.process_batch(
        _frame(spark, [_record(i, "Jiangsu", "Nanjing", 1, 9) for i in range(3)]), 0
    )
    files = glob.glob(os.path.join(pipe.blacklist_path, "*"))
    before = {f: os.stat(f).st_mtime_ns for f in files}
    assert any(f.endswith(".parquet") for f in before)

    # user 1 is already blacklisted; user 2 stays under the threshold
    pipe.process_batch(
        _frame(
            spark,
            [_record(20, "Jiangsu", "Nanjing", 1, 9),
             _record(21, "Zhejiang", "Hangzhou", 2, 5)],
        ),
        1,
    )
    after = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(os.path.join(pipe.blacklist_path, "*"))
    }
    assert after == before, "blacklist rewritten by a batch that minted no offender"
    assert {r["user_id"] for r in pipe.user_counts(spark).collect()} == {1, 2}


# Where a batch can die: at each state commit (the user-count, stat, top-3
# and blacklist commits), and inside the stat commit between renaming the
# second date's live dir aside and renaming its new dir in.
_CRASH_POINTS = [
    "ad_user_click_count",
    "ad_stat",
    "ad_province_top3",
    "ad_blacklist",
    "ad_stat/date_key=2024-01-02",
]


@pytest.mark.parametrize("point", _CRASH_POINTS)
def test_crash_at_a_state_commit_then_replay_matches_the_stream(
    spark, stream_env, monkeypatch, point
):
    """A batch that dies at ``point`` (every earlier commit landed) and is
    replayed with the same batch id must leave exactly the state of a run
    without the crash — perfbench's independent replay of the stream. The
    crashing batch spans two dates and mints an offender, so every commit
    runs; a later batch checks that the offender is filtered."""
    from perfbench.checks import ad_state_matches, replay_ad_state

    from log_analysis_system_spark.streaming import ad_analytics

    day = 86_400
    batches = [
        [_record(0, "Jiangsu", "Nanjing", 1, 9),
         _record(1, "Jiangsu", "Nanjing", 1, 9),
         _record(2, "Zhejiang", "Hangzhou", 2, 5),
         _record(day, "Zhejiang", "Hangzhou", 3, 5)],
        [_record(10, "Jiangsu", "Nanjing", 1, 9),
         _record(11, "Jiangsu", "Suzhou", 2, 9),
         _record(day + 10, "Zhejiang", "Ningbo", 3, 4),
         _record(day + 11, "Zhejiang", "Hangzhou", 4, 5)],
        [_record(20, "Jiangsu", "Nanjing", 1, 9),
         _record(day + 20, "Jiangsu", "Nanjing", 1, 7),
         _record(day + 21, "Zhejiang", "Hangzhou", 3, 5)],
    ]
    files = []
    for k, lines in enumerate(batches):
        _write_chunk(stream_env["input"], f"b{k}.txt", lines)
        files.append([os.path.join(stream_env["input"], f"b{k}.txt")])
    frames = [parse_ad_click_log(spark.read.text(f)) for f in files]

    pipe = AdAnalyticsPipeline(stream_env["state"])
    pipe.process_batch(frames[0], 0)

    target = os.path.join(stream_env["state"], point)
    crashed = []

    def crash_once(commit):
        def call(*args, **kwargs):
            path = args[1]
            if not crashed and (path == target or path.startswith(target + os.sep)):
                crashed.append(path)
                raise RuntimeError(f"injected crash at {path}")
            return commit(*args, **kwargs)

        return call

    monkeypatch.setattr(pipe, "_swap_in", crash_once(pipe._swap_in))
    monkeypatch.setattr(
        ad_analytics, "overwrite_keyed_parquet",
        crash_once(ad_analytics.overwrite_keyed_parquet),
    )
    monkeypatch.setattr(os, "rename", crash_once(os.rename))
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.process_batch(frames[1], 1)
    spark.catalog.clearCache()  # a restarted driver has no cached plans
    pipe.process_batch(frames[1], 1)  # the replay after the restart
    pipe.process_batch(frames[2], 2)

    expected = replay_ad_state(files)
    assert (1,) in expected["ad_blacklist"]
    assert ad_state_matches(stream_env["state"], expected) == {
        table: True for table in expected
    }


def test_available_now_drains_and_terminates(spark, tmp_path):
    """Trigger.AvailableNow: process everything present, then STOP — the
    incremental-batch mode (cron-driven catch-up runs) that replaces
    processingTime triggers when the pipeline is scheduled, not resident.
    The query must terminate on its own and the counts must cover every
    input row."""
    from pyspark.sql import functions as SF

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt_an")
    _write_chunk(
        in_dir,
        "batch1.txt",
        [_record(i, "Jiangsu", "Nanjing", 1, 9) for i in range(4)]
        + [_record(i, "Zhejiang", "Hangzhou", 2, 5) for i in range(3)],
    )
    counts = (
        build_file_stream(spark, in_dir)
        .groupBy("province")
        .agg(SF.count(SF.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("an_sink")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-terminate"
    got = {r.province: r.n for r in spark.sql("SELECT * FROM an_sink").collect()}
    assert got == {"Jiangsu": 4, "Zhejiang": 3}

    # A second availableNow run resumes from the checkpoint: only NEW files
    # are processed, and prior state is still reflected in complete mode.
    _write_chunk(in_dir, "batch2.txt", [_record(50, "Jiangsu", "Nanjing", 3, 9)])
    q2 = (
        counts.writeStream.format("memory")
        .queryName("an_sink2")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    got2 = {r.province: r.n for r in spark.sql("SELECT * FROM an_sink2").collect()}
    assert got2 == {"Jiangsu": 5, "Zhejiang": 3}


def test_pipeline_state_matches_stream_replay(spark, stream_env):
    """The per-batch transaction against perfbench's independent replay of
    the ad stream, on its own generator's files: 12 files of 1,000 records
    fed as batches of 1, 2, 3, 3 and 3 files, then the last batch id again
    (a crash between the state commit and the checkpoint commit). The files
    cross midnight and mint blacklisted users, so the date split and the
    feedback edge are both exercised."""
    from perfbench.adgen import ad_click_lines
    from perfbench.checks import ad_state_matches, replay_ad_state

    files = []
    for k in range(12):
        name = f"part-{k:02d}.txt"
        _write_chunk(stream_env["input"], name, ad_click_lines(7, k, 1000, 0.5))
        files.append(os.path.join(stream_env["input"], name))
    batches, start = [], 0
    for n in (1, 2, 3, 3, 3):
        batches.append(files[start : start + n])
        start += n

    pipe = AdAnalyticsPipeline(stream_env["state"])
    frames = [parse_ad_click_log(spark.read.text(b)) for b in batches]
    for batch_id, frame in enumerate(frames):
        pipe.process_batch(frame, batch_id)
    pipe.process_batch(frames[-1], len(frames) - 1)

    expected = replay_ad_state(batches)
    assert expected["ad_blacklist"]
    assert len({row[0] for row in expected["ad_user_click_count"]}) == 2
    assert ad_state_matches(stream_env["state"], expected) == {
        table: True for table in expected
    }

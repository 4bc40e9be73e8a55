"""The per-snapshot session base (``sources.catalog.per_snapshot``): the
session family, ``funnel``, ``stratified_sample`` and the top-10 queries
share one cached sessionized frame and one cached per-session rollup per
snapshot of ``events.parquet``. These tests pin that the cache never serves
rows of an older snapshot, that concurrent callers build it once, that a
repeat call scans it without a shuffle, that a cleared cache is rebuilt,
what a directory's snapshot covers, and what the base's derived
``prev_event_type`` holds. ``Engine.query`` keeps the plans it builds over
the base under the same snapshot key: the last tests pin when it reuses
one and when it builds again."""

from __future__ import annotations

import os
import shutil
import sys
import threading

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from log_analysis_system_spark.engine import Engine
from log_analysis_system_spark.queries import ORACLES, QUERIES, load_all
from log_analysis_system_spark.queries import session_analysis
from log_analysis_system_spark.queries.session_analysis import SESS_CTE
from log_analysis_system_spark.sources.catalog import register_views, snapshot
from tests.conftest import SF_DIR, assert_matches_oracle, register_duck_views

load_all()


@pytest.fixture()
def sf_copy(tmp_path):
    """A writable copy of the test tables: a new path, so a new snapshot."""
    out = tmp_path / "sf"
    out.mkdir()
    for name in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, name), out / name)
    return str(out)


def _check(spark, duck, name, sf_dir):
    assert_matches_oracle(spark, duck, QUERIES[name], ORACLES[name], sf_dir)


def test_rewritten_events_are_not_served_stale(spark, duck, sf_copy):
    """An external rewrite of ``events.parquet`` at the same path must reach
    the results. Spark's cache matches plans, not file contents, so a slot
    keyed on the path alone keeps serving the old rows."""
    for name in ("session_agg", "funnel"):
        _check(spark, duck, name, sf_copy)
    path = os.path.join(sf_copy, "events.parquet")
    table = pq.read_table(path)
    users = sorted(set(table.column("user_id").to_pylist()))
    half = pa.array(users[: len(users) // 2], type=table["user_id"].type)
    kept = table.filter(pc.is_in(table["user_id"], value_set=half))
    assert 0 < kept.num_rows < table.num_rows
    pq.write_table(kept, path)
    for name in ("session_agg", "funnel"):
        _check(spark, duck, name, sf_copy)


def test_concurrent_callers_build_the_base_once(spark, sf_copy, monkeypatch):
    """Four threads run three session-family queries on a fresh snapshot:
    every result matches its oracle, and sessionize runs for one build only
    (planned once in the caller's session and once in the AQE-off planner
    session that holds the cache entry)."""
    sessions = []
    real = session_analysis.sessionize

    def counting(df, *args, **kwargs):
        sessions.append(df.sparkSession)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(session_analysis, "sessionize", counting)
    names = ["session_agg", "session_filter", "funnel"]
    errors = []

    def run(shift):
        con = duckdb.connect()
        try:
            for name in names[shift:] + names[:shift]:
                _check(spark, con, name, sf_copy)
        except Exception as exc:  # surfaced on the main thread below
            errors.append(exc)
        finally:
            con.close()

    threads = [threading.Thread(target=run, args=(i % 3,)) for i in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the slot checks as finely as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(sessions) == 2
    assert sum(s is spark for s in sessions) == 1


def test_repeat_call_scans_the_cache_without_a_shuffle(spark, duck, sf_copy):
    _check(spark, duck, "session_agg", sf_copy)
    plan = (
        QUERIES["session_agg"](spark, sf_copy)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in plan
    above = plan.split("InMemoryTableScan")[0]
    assert "Exchange" not in above, plan


def test_cleared_cache_is_rebuilt(spark, duck, sf_copy):
    """The plan gates call ``clearCache()``; the slot must notice that its
    entry left the cache and build a new one."""
    _check(spark, duck, "session_agg", sf_copy)
    spark.catalog.clearCache()
    _check(spark, duck, "session_agg", sf_copy)
    _check(spark, duck, "session_detail", sf_copy)
    df = QUERIES["session_agg"](spark, sf_copy)
    assert df.storageLevel.useMemory


def test_snapshot_of_a_directory_covers_its_data_files(tmp_path):
    """A directory's snapshot lists its data files, skipping the '.' and
    '_' files Spark's listing skips, and changes when a data file does."""
    table = tmp_path / "events.parquet"
    (table / "date=1").mkdir(parents=True)
    (table / "date=1" / "part-0.parquet").write_bytes(b"a")
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-0.parquet.crc").write_bytes(b"c")
    before = snapshot(str(table))
    assert [entry[0] for entry in before] == [str(table / "date=1" / "part-0.parquet")]
    (table / "date=1" / "part-0.parquet").write_bytes(b"ab")
    assert snapshot(str(table)) != before


def test_prev_event_type_is_the_in_session_lag(spark, duck):
    """``prev_event_type`` is NULL at every session start and otherwise the
    lag of the oracle's ``splits`` CTE: the event type before this one in
    its session, by (ts, event_id)."""
    base = session_analysis._sessionized(spark, SF_DIR)
    got = sorted(
        (r["event_id"], r["prev_event_type"])
        for r in base.select("event_id", "prev_event_type").collect()
    )
    register_duck_views(duck, SF_DIR)
    want = sorted(
        duck.execute(
            f"""WITH {SESS_CTE}
            SELECT event_id,
                   lag(event_type) OVER (PARTITION BY session_id ORDER BY ts, event_id)
            FROM sess"""
        ).fetchall()
    )
    assert got == want
    n_sessions = duck.execute(f"WITH {SESS_CTE} SELECT count(*) FROM sess_agg").fetchone()[0]
    assert sum(prev is None for _, prev in got) == n_sessions


@pytest.fixture()
def engine(spark, sf_copy):
    """An engine over the writable copy; the test views are put back after."""
    yield Engine(sf_copy, spark)
    register_views(spark, SF_DIR)


def _check_frame(spark, duck, name, df, sf_dir):
    assert_matches_oracle(spark, duck, lambda *_: df, ORACLES[name], sf_dir)


def test_engine_reuses_a_plan_until_events_are_rewritten(spark, duck, engine, sf_copy):
    """A repeat ``Engine.query`` returns the DataFrame it built; a rewrite of
    ``events.parquet`` makes it build a new one, whose rows are the new
    file's."""
    names = ("funnel", "top10_session_per_category")
    first = {name: engine.query(name) for name in names}
    for name in names:
        assert engine.query(name) is first[name]
        _check_frame(spark, duck, name, first[name], sf_copy)
    path = os.path.join(sf_copy, "events.parquet")
    table = pq.read_table(path)
    users = sorted(set(table.column("user_id").to_pylist()))
    half = pa.array(users[: len(users) // 2], type=table["user_id"].type)
    pq.write_table(table.filter(pc.is_in(table["user_id"], value_set=half)), path)
    for name in names:
        df = engine.query(name)
        assert df is not first[name]
        _check_frame(spark, duck, name, df, sf_copy)


def test_engine_rebuilds_a_plan_after_clear_cache(spark, duck, engine, sf_copy):
    """``clearCache()`` drops the base a kept plan reads: the next call
    builds a plan over a rebuilt, cached base."""
    first = engine.query("stratified_sample")
    assert engine.query("stratified_sample") is first
    spark.catalog.clearCache()
    df = engine.query("stratified_sample")
    assert df is not first
    assert session_analysis._sessionized(spark, sf_copy).storageLevel.useMemory
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
    _check_frame(spark, duck, "stratified_sample", df, sf_copy)


def test_concurrent_engine_callers_build_a_plan_once(spark, engine, monkeypatch):
    """Four threads ask a fresh engine for one query: one build, one
    DataFrame for all of them."""
    builds = []
    real = QUERIES["funnel"]

    def counting(*args):
        builds.append(1)
        return real(*args)

    monkeypatch.setitem(QUERIES, "funnel", counting)
    got = []
    threads = [threading.Thread(target=lambda: got.append(engine.query("funnel"))) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 4 and len(builds) == 1
    assert all(df is got[0] for df in got)


def test_engine_on_a_remote_path_builds_every_call(spark):
    """A path that is not local has no snapshot to key a plan on: every
    call builds, and the rows are the same."""
    engine = Engine(f"file://{SF_DIR}", spark)
    try:
        first = engine.query("pricing_summary")
        again = engine.query("pricing_summary")
        assert again is not first
        assert sorted(map(tuple, again.collect())) == sorted(map(tuple, first.collect()))
    finally:
        register_views(spark, SF_DIR)

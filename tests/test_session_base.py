"""The per-snapshot session base (``sources.catalog.per_snapshot``): the
session family and ``funnel`` share one cached sessionized frame and one
cached per-session rollup per snapshot of ``events.parquet``. These tests
pin that the cache never serves rows of an older snapshot, that concurrent
callers build it once, that a repeat call scans it without a shuffle, that
a cleared cache is rebuilt, and what a directory's snapshot covers."""

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

from log_analysis_system_spark.queries import ORACLES, QUERIES, load_all
from log_analysis_system_spark.queries import session_analysis
from log_analysis_system_spark.sources.catalog import snapshot
from tests.conftest import SF_DIR, assert_matches_oracle

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

"""TaskRunner lifecycle: reference-encoded task JSON → job → sink tables."""

from __future__ import annotations

import pytest

from log_analysis_system_spark.runner import (
    parquet_sink,
    run_area_task,
    run_page_task,
    run_session_task,
)
from log_analysis_system_spark.sources.mockdata import mock_user_visit_data

# The reference's own task_param encoding: 1-element JSON arrays,
# comma-joined lists (util/ParamUtils.java:43-48; sql.txt task rows).
TASK_JSON = (
    '{"startDate":["2018-12-01"],"endDate":["2018-12-03"],'
    '"startAge":["20"],"endAge":["50"],'
    '"targetPageFlow":["1,2,3,4,5,6,7"]}'
)


@pytest.fixture(scope="module")
def tables(spark):
    return mock_user_visit_data(spark, n_users=40, sessions_per_user=4)


def test_session_task_writes_all_result_tables(spark, tables, tmp_path):
    out = str(tmp_path / "out")
    results = run_session_task(
        tables["user_visit_action"], tables["user_info"], TASK_JSON,
        parquet_sink(out),
    )
    expected = {
        "session_aggr_stat", "filtered_sessions", "session_random_extract",
        "session_detail", "top10_category", "top10_category_session",
    }
    assert set(results) == expected
    for name in expected:
        df = spark.read.parquet(f"{out}/{name}")
        assert df.count() >= 0  # readable, stable schema
    stat = spark.read.parquet(f"{out}/session_aggr_stat").collect()
    assert len(stat) == 1 and stat[0]["session_count"] > 0


def test_session_task_releases_its_caches(spark, tables, tmp_path):
    """Job 1 caches its scan, the filtered sessions and the session detail
    for its four branches; once the sink has written every table, all three
    are released and the returned tables read uncached."""
    from pyspark import StorageLevel

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    results = run_session_task(
        tables["user_visit_action"], tables["user_info"], TASK_JSON,
        parquet_sink(str(tmp_path / "out")),
    )
    for name in ("filtered_sessions", "session_detail"):
        assert results[name].is_cached is False
        assert results[name].storageLevel == StorageLevel.NONE
    assert persistent().size() <= before
    assert results["filtered_sessions"].count() > 0


def test_page_task_round_trips_params(spark, tables, tmp_path):
    out = str(tmp_path / "out2")
    df = run_page_task(tables["user_visit_action"], TASK_JSON, parquet_sink(out))
    rows = spark.read.parquet(f"{out}/page_split_convert_rate").collect()
    assert {r["split"] for r in rows} == {
        "1_2", "2_3", "3_4", "4_5", "5_6", "6_7"
    }
    assert df.columns == ["split", "split_pv", "convert_rate"]


def test_area_task(spark, tables, tmp_path):
    out = str(tmp_path / "out3")
    run_area_task(
        tables["user_visit_action"], tables["city_info"],
        tables["product_info"], TASK_JSON, parquet_sink(out),
    )
    rows = spark.read.parquet(f"{out}/area_top3_product").collect()
    assert rows and all(r["rnk"] <= 3 for r in rows)

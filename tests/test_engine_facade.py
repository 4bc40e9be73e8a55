"""Engine facade: SQL text and named-query surfaces agree with each other."""

from __future__ import annotations

import pytest

from log_analysis_system_spark.engine import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(SF_DIR, spark=spark)


def test_sql_over_registered_views(engine):
    row = engine.sql(
        "SELECT count(*) AS n, count(DISTINCT user_id) AS u FROM events"
    ).collect()[0]
    assert row["n"] > 0 and 0 < row["u"] <= row["n"]


def test_sql_equals_dataframe_query(engine):
    """The SQL-text form of the pricing summary must produce exactly the
    DataFrame registry query's result (same Catalyst plan space)."""
    sql_rows = sorted(
        tuple(r) for r in engine.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0
                       AS sum_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            """
        ).collect()
    )
    df_rows = sorted(
        tuple(r)
        for r in engine.query("pricing_summary")
        .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
        .collect()
    )
    assert sql_rows == df_rows


def test_query_registry_and_errors(engine):
    assert "session_agg" in engine.query_names()
    assert engine.query("top10_category").count() == 10
    with pytest.raises(KeyError):
        engine.query("no_such_query")
    with pytest.raises(KeyError):
        engine.table("no_such_table")

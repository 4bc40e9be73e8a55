"""TaskRunner — the reference's submit→task-fetch→job→sink lifecycle as a
thin driver (SURVEY §3: "the task-table pattern becomes a thin TaskRunner").

The reference reads a task row from MySQL, parses its JSON params, runs a
hard-coded job, and batch-inserts results into 13 MySQL tables
(UserVisitSessionAnalyzeSpark.java:45-188; sql.txt:1-149). Here the task
document is a JSON string (source-agnostic: a control table, a file, an
API call), the job is a parameterized query function, and the sink is
pluggable — parquet in tests, ``sinks.jdbc_append`` in a deployment.
Results stay DataFrames until the sink writes; nothing funnels through
the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .params import TaskParams
from .queries.reference_jobs import (
    area_top3_products,
    page_convert_rate,
    session_analyze,
)


def run_session_task(
    action_df: DataFrame,
    user_df: DataFrame,
    task_param_json: str,
    sink: Callable[[DataFrame, str], None],
) -> dict[str, DataFrame]:
    """Job 1: session analysis end-to-end from a reference-encoded task JSON.
    ``sink(df, table_name)`` receives each result table (the reference's
    session_aggr_stat / session_random_extract / session_detail /
    top10_category / top10_category_session, sql.txt:2-67). The job's caches
    are released once every table is written; the returned tables stay
    readable, uncached."""
    params = TaskParams.from_json(task_param_json)
    cached: list[DataFrame] = []
    results = session_analyze(action_df, user_df, params, cached)
    try:
        for name, df in results.items():
            sink(df, name)
    finally:
        for df in cached:
            df.unpersist()
    return results


def run_page_task(
    action_df: DataFrame,
    task_param_json: str,
    sink: Callable[[DataFrame, str], None],
) -> DataFrame:
    """Job 2: page conversion funnel (page_split_convert_rate, sql.txt:83-89)."""
    params = TaskParams.from_json(task_param_json)
    out = page_convert_rate(action_df, params)
    sink(out, "page_split_convert_rate")
    return out


def run_area_task(
    action_df: DataFrame,
    city_df: DataFrame,
    product_df: DataFrame,
    task_param_json: str,
    sink: Callable[[DataFrame, str], None],
) -> DataFrame:
    """Job 3: area top-3 products (area_top3_product, sql.txt:105-114)."""
    params = TaskParams.from_json(task_param_json)
    out = area_top3_products(action_df, city_df, product_df, params)
    sink(out, "area_top3_product")
    return out


def parquet_sink(base_dir: str) -> Callable[[DataFrame, str], None]:
    """Test-double sink: one parquet dataset per result table."""

    def sink(df: DataFrame, name: str) -> None:
        df.write.mode("overwrite").parquet(f"{base_dir}/{name}")

    return sink

"""Shared test fixtures: one local SparkSession per test run, a DuckDB
connection with the driver testdata registered as views, and the oracle
comparison helper that mirrors the driver's t2 gate (sorted columns, sorted
rows, exact value equality)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_analysis_system_spark.session import get_spark
from log_analysis_system_spark.sources.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"

# Two-tier suite (round-11, verdict item 2): the full suite outgrew the
# driver's verify window (~59 min at the round-10 close; the official
# record showed tests_ok=false on a run that was merely TRUNCATED, with
# zero failures). The default `pytest tests/` run now skips tests marked
# `slow` — long redundancy tiers whose gate class is still covered by a
# fast representative — finishing well inside the window. The FULL suite
# (round_close.sh, any local deep check) runs with
# SPARK_GRAFT_FULL_TESTS=1, which disables the skip.
RUN_FULL = os.environ.get("SPARK_GRAFT_FULL_TESTS", "") == "1"


def gate_query_names():
    """Query set for the registry-wide structural gates (plan sweeps:
    cartesian/Python-UDF/bare-window/exchange-budget). Full tier sweeps
    the whole registry; the driver-budget default tier sweeps the
    official 50-query PRIORITY window — the rows the driver actually
    grades — because one plan_of() per registered query costs ~0.5 s and
    four full sweeps were ~10 min of the suite. New queries always enter
    through a BUILD round, whose close runs the full tier
    (round_close.sh), so registry-wide coverage still gates every
    addition."""
    from log_analysis_system_spark.queries import PRIORITY, QUERIES, load_all

    load_all()
    if RUN_FULL:
        return sorted(QUERIES)
    return [n for n in sorted(QUERIES) if n in set(PRIORITY)]


def _node_col(line: str) -> int:
    """Column where a plan-tree line's operator starts, past the tree drawing."""
    return len(line) - len(line.lstrip(" :+-"))


def _cached_subtree(lines: list[str], i: int) -> tuple[int, str]:
    """End (exclusive) of the subtree under the ``InMemoryRelation`` at line
    ``i``, and that subtree's text relative to the relation's column. A
    relation prints the same text wherever its cache entry is scanned."""
    col = _node_col(lines[i])
    j = i + 1
    while j < len(lines) and _node_col(lines[j]) > col:
        j += 1
    return j, "\n".join(line[col:] for line in lines[i + 1 : j])


def above_cache(plan: str, cached: set[str] | None = None) -> str:
    """The executed-plan string ``plan`` without the subtrees of the cache
    entries it scans: the query's own operators. With ``cached``, only the
    subtrees whose text (``cached_plans``) is in it are dropped."""
    lines = plan.splitlines()
    out, i = [], 0
    while i < len(lines):
        out.append(lines[i])
        if "InMemoryRelation" in lines[i]:
            end, text = _cached_subtree(lines, i)
            if cached is None or text in cached:
                i = end
                continue
        i += 1
    return "\n".join(out)


def cached_plans(spark) -> dict[str, str]:
    """Name -> cached-subtree text of each ``per_snapshot`` base of ``spark``
    still in the cache: the frames built once per input snapshot."""
    from log_analysis_system_spark.sources import catalog

    out = {}
    for (session, name), (_, df, _) in list(catalog._slots.items()):
        if session is spark and catalog._is_cached(df):
            lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
            i = next(k for k, line in enumerate(lines) if "InMemoryRelation" in line)
            out[name] = _cached_subtree(lines, i)[1]
    return out


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long redundancy tier — skipped unless SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_FULL:
        return
    skip = pytest.mark.skip(
        reason="slow tier (set SPARK_GRAFT_FULL_TESTS=1 to run)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM '{sf_dir}/{name}.parquet'"
        )


def _canon(val):
    """Canonicalize a cell for comparison (mirror of a value-hash gate)."""
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        # repr of the exact double — engines must agree bit-for-bit
        return repr(val)
    return str(val)


def canon_hash(sdf) -> tuple[int, str]:
    """(row count, value hash) of a result, the hash scripts/driver_sim.py
    prints: columns sorted by name, cells canonicalized, rows sorted."""
    from scripts.driver_sim import value_hash

    cols = sorted(sdf.columns)
    rows = [tuple(_canon(r[c]) for c in cols) for r in sdf.collect()]
    return len(rows), value_hash(cols, rows)


def assert_matches_oracle(spark, duck, query_fn, oracle: str, sf_dir: str):
    """Run the Spark query and the DuckDB oracle; compare schema column names,
    row counts, and exact values (columns sorted by name, rows sorted)."""
    register_duck_views(duck, sf_dir)
    sdf = query_fn(spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [
        tuple(_canon(row[c]) for c in spark_cols) for row in sdf.collect()
    ]

    ddf = duck.execute(oracle).fetch_arrow_table()
    duck_cols = sorted(ddf.column_names)
    assert spark_cols == duck_cols, f"schema mismatch: {spark_cols} vs {duck_cols}"
    pydict = ddf.to_pydict()
    n = ddf.num_rows
    duck_rows = [
        tuple(_canon(pydict[c][i]) for c in duck_cols) for i in range(n)
    ]

    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    spark_rows.sort()
    duck_rows.sort()
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(spark_rows, duck_rows)) if a != b
    ]
    assert not mismatches, f"value mismatch (first 5): {mismatches[:5]}"

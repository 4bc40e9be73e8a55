"""End-to-end parity: every registered query vs its DuckDB oracle — the local
mirror of the driver's t2 correctness gate. Runs at sf0.001 for speed; set
SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to reproduce the driver exactly."""

from __future__ import annotations

import pytest

from log_analysis_system_spark.queries import ORACLES, QUERIES, load_all
from tests.conftest import SF_DIR, assert_matches_oracle, canon_hash

load_all()


# Oracles whose DuckDB text is expensive to EVALUATE (unrolled greedy /
# recursive CTE towers that DuckDB inlines multiplicatively — measured
# 9-269 s each, ~9 min combined of the 45-min full run). Parity for
# these rows is still checked every round by scripts/driver_sim.py (the
# same comparison at sf0.01) and by the driver's own gate for window
# rows; the default driver-budget tier skips only this redundant third
# evaluation (round-11, verdict item 2).
SLOW_ORACLES = {
    "coreset_kcenter",
    "mmr_diversified_topk",
    "hits_trade_graph",
    "kcore_trade_graph",
    "holt_forecast_revenue",
    "theil_sen_trend",
    "pq_index_refresh",
    "embedding_dup_clusters",
    "semantic_dedup_keep",
    "lsh_recall_audit",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in SLOW_ORACLES else n
        for n in sorted(ORACLES)
    ],
)
def test_query_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, QUERIES[name], ORACLES[name], SF_DIR)


# (row count, canon hash) at sf0.001 of the slow-oracle rows outside the
# driver's 50-query window, so the default tier still checks their Spark
# side. Each was computed once next to its DuckDB oracle, which gave the
# same count and hash; the slow tier above re-runs the oracle itself.
SLOW_ORACLE_PINS = {
    "embedding_dup_clusters": (14, "f4310548a3e71b03"),
    "hits_trade_graph": (160, "22ad6a73ba591e7b"),
    "holt_forecast_revenue": (80, "df01e6b37606ca79"),
    "kcore_trade_graph": (0, "e3b0c44298fc1c14"),
    "lsh_recall_audit": (1, "d066fcbadd829057"),
    "mmr_diversified_topk": (50, "4e34d190e928325e"),
    "semantic_dedup_keep": (500, "b1a20c890b6e0821"),
    "theil_sen_trend": (1, "8899670f30933bbf"),
}


@pytest.mark.parametrize("name", sorted(SLOW_ORACLE_PINS))
def test_slow_oracle_row_matches_pinned_hash(spark, name):
    if not SF_DIR.rstrip("/").endswith("sf0.001"):
        pytest.skip("hashes are pinned at sf0.001")
    assert canon_hash(QUERIES[name](spark, SF_DIR)) == SLOW_ORACLE_PINS[name]


def test_every_query_has_oracle_or_is_flagged():
    missing = set(QUERIES) - set(ORACLES)
    # Non-SQL-expressible ops would get a weaker rows-only check from the
    # driver. As of round 2 every query carries an oracle — the formerly
    # rows-only HLL sketch now ships a within-tolerance verdict oracle.
    assert not missing, f"queries missing oracles: {missing}"

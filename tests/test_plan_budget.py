"""Shuffle-budget regression pin: every registry query's physical-plan
Exchange count must not EXCEED the checked-in budget
(plan_exchange_budget.json, regenerated deliberately when a plan change
is intentional). The count is textual — branch duplication inflates it
consistently (runtime ReuseExchange dedups real work) — so it is a
stable fingerprint: a refactor that adds a shuffle anywhere in any of
the 132 queries fails here before any benchmark notices.

A query is counted above the ``per_snapshot`` bases it scans: a base is
built once per input snapshot and shared, so its exchanges are pinned once,
under ``per_snapshot:<name>``, not in every query that reads it."""

from __future__ import annotations

import json
import os
import re

from log_analysis_system_spark.queries import QUERIES, load_all
from tests.conftest import SF_DIR, above_cache, cached_plans

load_all()

with open(os.path.join(os.path.dirname(__file__), "plan_exchange_budget.json")) as f:
    BUDGET = json.load(f)


def test_budget_covers_registry():
    missing = set(QUERIES) - set(BUDGET)
    assert not missing, (
        f"queries without a pinned exchange budget (regenerate "
        f"tests/plan_exchange_budget.json): {missing}"
    )


def test_no_query_exceeds_exchange_budget(spark):
    # The budgets are pinned against COLD plans. Queries that .cache()
    # intermediates (e.g. dedup_simhash_neardup, dedup_minhash_lsh) produce
    # a different executed-plan string once earlier tests have populated the
    # CacheManager (InMemoryRelation replaces the subtree and the textual
    # Exchange count shifts), making this gate order-dependent. Reset to the
    # pinned cold state before sweeping.
    from tests.conftest import gate_query_names

    spark.catalog.clearCache()
    over = {}
    bases: dict[str, str] = {}
    for name in gate_query_names():
        plan = (
            QUERIES[name](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        bases.update(cached_plans(spark))
        n = _keyed_exchanges(above_cache(plan, set(bases.values())))
        if n > BUDGET.get(name, 0):
            over[name] = (n, BUDGET.get(name))
    for base, text in bases.items():
        key = f"per_snapshot:{base}"
        n = _keyed_exchanges(above_cache(text, set(bases.values()) - {text}))
        if n > BUDGET.get(key, 0):
            over[key] = (n, BUDGET.get(key))
    assert not over, f"plans grew new shuffles (got, budget): {over}"


def _keyed_exchanges(plan: str) -> int:
    """Keyed exchanges only: Exchange RoundRobinPartitioning is the guarded
    widen_scan rebalance (sources.catalog), which exists only because local
    testdata is single-row-group — at production layout the guard makes it
    vanish. Hash/range/single-partition exchanges are the scale-relevant
    shuffles the budget pins."""
    return len(re.findall(r"\bExchange\b", plan)) - plan.count("RoundRobinPartitioning")

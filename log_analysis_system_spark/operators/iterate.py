"""Bulk iteration as one operator (Ewen et al., "Spinning Fast Iterative
Data Flows", VLDB 2012): the shared round loop of PageRank, label
propagation, k-core peeling, connected components and distributed Lloyd
training.

Each round applies a step to ONE state frame and cuts the result's
lineage with a lazy ``localCheckpoint``, so the plan a round builds on is
a checkpoint leaf and does not grow with the round count; the round is
materialized by the next action (the next probe, or the caller's). A
fixed-round recurrence passes no probe. A fixpoint recurrence passes a
scalar probe — a 1-row driver value such as an edge count or a label
sum that only ever moves one way until the fixpoint — and the loop stops
at the first round whose probe repeats the previous value."""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    probe: Callable[[DataFrame], Any] | None = None,
) -> tuple[DataFrame, bool]:
    """Apply ``step`` to ``state`` up to ``rounds`` times; returns the last
    state and whether the loop converged.

    ``probe`` runs on the seed state and after every round; the loop
    stops, converged, at the first round whose probe equals the previous
    one. Without a probe every round runs and the result is reported as
    not converged. The seed is the caller's: cut its lineage first when
    it is a costly subtree."""
    last = probe(state) if probe else None
    for _ in range(rounds):
        state = step(state).localCheckpoint(eager=False)
        if probe:
            cur = probe(state)
            if cur == last:
                return state, True
            last = cur
    return state, False

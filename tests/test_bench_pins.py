"""Bench wiring pins: every row in bench_pins.json is a registered query with
an oracle (or a lifecycle half) and carries a pin taken under the recorded
action, every scale-probe extra is registered, the final stdout line stays
compact, and the per-row layer record keeps its schema and reconciliation
rule. Fails at commit time instead of at the next bench run."""

from __future__ import annotations

import json

from bench import final_line, layer_record, read_pins
from harness import EventLog, Job, Span
from log_analysis_system_spark.queries import ORACLES, QUERIES, load_all
from scripts.scale_probe import EXTRA_QUERIES

load_all()
PINS = read_pins()
BENCH_QUERIES = list(PINS["queries"])
HELPER_TIMINGS = list(PINS["lifecycle"])


def test_bench_queries_registered_and_pinned():
    unregistered = [q for q in BENCH_QUERIES if q not in QUERIES]
    assert not unregistered, unregistered
    assert len(BENCH_QUERIES) == len(set(BENCH_QUERIES))
    unpinned = [q for q in BENCH_QUERIES if not PINS["queries"][q] > 0]
    assert not unpinned, unpinned
    assert PINS["action"] == "noop"
    assert PINS["nproc"] >= 1 and PINS["sf"] > 0


def test_bench_queries_have_oracles():
    missing = [q for q in BENCH_QUERIES if q not in ORACLES]
    assert not missing, missing


def test_helper_timings_pinned():
    # The lifecycle halves are timed by bench.lifecycle_rows, not looked up
    # in the registry; a registered name there would be timed twice.
    assert not set(HELPER_TIMINGS) & set(QUERIES)
    unpinned = [q for q in HELPER_TIMINGS if not PINS["lifecycle"][q] > 0]
    assert not unpinned, unpinned


def test_final_line_stays_compact():
    """The driver keeps only a ~2 KB tail of bench stdout; a line carrying
    the per-query map once lost its head ("metric"/"value") to truncation.
    The final line must never carry per-query detail."""
    line = final_line(999999.999, 0.1, 99, [99.99, 99.99, 99.99], 9999, 999)
    assert len(line) < 1500, len(line)
    assert '"queries"' not in line
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall_clock"
    assert parsed["value"] == 999999.999
    assert parsed["load_ok"] is False
    assert parsed["n_queries"] == 99


RECORD_KEYS = {
    "wall_s",
    "queries.build_s",
    "catalyst.plan_s",
    "spark.busy_s",
    "driver.gap_s",
    "build.busy_s",
    "build.jobs",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "exec.spill_bytes",
    "exec.result_bytes",
    "pyworker.cpu_s",
    "reconciled",
}


def _row(t0: float, wall: float) -> tuple[list[Span], EventLog]:
    """One row's spans (build 0.2 s, plan 0.1 s, a 0.7 s noop write inside
    an op span of ``wall`` seconds) and an event log with one two-stage
    job running 0.1-0.65 s into the write."""
    spans = [
        Span(1, "r", "queries.build", 0, t0, t0 + 0.2),
        Span(2, "r", "catalyst.plan", 0, t0 + 0.2, t0 + 0.3),
        Span(3, "r", "spark.execute", 0, t0 + 0.3, t0 + 1.0),
        Span(0, "r", "op", None, t0, t0 + wall),
    ]
    log = EventLog()
    log.jobs[7] = Job(t0 + 0.4, t0 + 0.95, stages={1, 2})
    log.stages_done = {1, 2}
    log.tasks = {
        1: [(0.3, 0.2, 0.01, 1000, 0, 0, 50)] * 2,
        2: [(0.1, 0.1, 0.0, 0, 2000, 64, 70)],
    }
    return spans, log


def test_layer_record_schema_and_reconciled_rule():
    """Synthetic spans and event log, no Spark: the record holds every layer
    figure, the write span splits into Spark-busy time and driver gap, a
    job run while the query is built is attributed to the build, and a row
    reconciles when build + plan + busy + gap is within 10% of its wall
    time."""
    spans, log = _row(1000.0, 1.0)
    rec = layer_record(spans, log, 0.25)
    assert set(rec) == RECORD_KEYS
    assert rec["queries.build_s"] == 0.2
    assert rec["catalyst.plan_s"] == 0.1
    assert rec["spark.busy_s"] == 0.55
    assert rec["driver.gap_s"] == 0.15
    assert (rec["spark.jobs"], rec["spark.stages"], rec["spark.tasks"]) == (1, 2, 3)
    assert rec["exec.run_s"] == 0.7
    assert rec["shuffle.write_bytes"] == 2000
    assert rec["shuffle.read_bytes"] == 2000
    assert rec["exec.spill_bytes"] == 64
    assert rec["exec.result_bytes"] == 170
    assert rec["pyworker.cpu_s"] == 0.25
    assert (rec["build.busy_s"], rec["build.jobs"]) == (0.0, 0)
    assert rec["reconciled"] is True
    # A job 0.05-0.15 s into the build: build time, not a fifth layer.
    spans, log = _row(1000.0, 1.0)
    log.jobs[8] = Job(1000.05, 1000.15)
    built = layer_record(spans, log, 0.0)
    assert (built["build.busy_s"], built["build.jobs"]) == (0.1, 1)
    assert built["queries.build_s"] == 0.2 and built["spark.jobs"] == 2
    assert built["reconciled"] is True
    # 1.05 s of wall against 1.0 s of layers: inside 10%.
    assert layer_record(*_row(1000.0, 1.05), 0.0)["reconciled"] is True
    # 1.2 s: 0.2 s outside every layer.
    assert layer_record(*_row(1000.0, 1.2), 0.0)["reconciled"] is False


def test_probe_extras_registered():
    # overlap with BENCH_QUERIES is fine (the probe dedupes via
    # dict.fromkeys) — what must never happen is probing an unregistered name
    unregistered = [q for q in EXTRA_QUERIES if q not in QUERIES]
    assert not unregistered, unregistered

"""Bench sweep: times the bench rows listed in bench_pins.json (registered
queries, then the index-lifecycle halves) at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[nproc], in one warm session:

    python bench.py

Each row runs as perfbench's session ops do: ``queries.build`` (the query
function), ``catalyst.plan`` (the physical plan), then ``spark.execute``, a
``noop`` write that computes every output column. A lifecycle half that
writes or collects inside its own call (an index build, a recall audit) runs
whole as its ``spark.execute``. The spans and the session's Spark event log
give one layer record per row, through perfbench/harness.py and
perfbench/run.py: wall, build, plan, Spark-busy and driver-gap seconds,
the Spark-busy seconds and jobs inside the build, jobs/stages/tasks,
executor run/CPU/GC, shuffle, spill and result bytes, Python-worker CPU,
and ``reconciled``: build + plan + busy + gap is within
``RECONCILE_TOLERANCE`` of the wall time.

Outputs:
- stdout: one compact line per row, then ONE JSON line {"metric", "value"
  (total seconds), ...}. It stays under 1.5 KB (pinned in
  tests/test_bench_pins.py): the driver keeps only a ~2 KB stdout tail;
- BENCH_DETAIL.json: every row's layer record (overwritten per run);
- BENCH_HISTORY.jsonl: one appended line per run with {name: seconds}.

bench_pins.json holds each row's pin, the median of 3 sweeps, with the
nproc, sf and action it was taken under. Compare runs on one host, in A-B
pairs started below ``LOAD_OK_MAX`` load average (``load_ok``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import harness  # noqa: E402  perfbench/harness.py
import run as perfbench_run  # noqa: E402  perfbench/run.py

from log_analysis_system_spark.queries import QUERIES, load_all  # noqa: E402
from log_analysis_system_spark.session import get_spark  # noqa: E402

PINS_PATH = os.path.join(ROOT, "bench_pins.json")

# round_close.sh's trust threshold: a start 1-min loadavg at or above this
# tags the run load_ok=false.
LOAD_OK_MAX = 1.5

# The layers a row's wall time splits into.
LAYERS = ("queries.build_s", "catalyst.plan_s", "spark.busy_s", "driver.gap_s")


def read_pins() -> dict:
    """bench_pins.json: ``queries`` and ``lifecycle`` ({name: seconds}, in
    run order), and the ``nproc``, ``sf`` and ``action`` they were taken
    under."""
    with open(PINS_PATH) as fh:
        return json.load(fh)


def layer_record(spans: list, log: harness.EventLog, pyworker_s: float) -> dict:
    """One row's record from its spans (an ``op`` span around
    ``queries.build``, ``catalyst.plan`` and ``spark.execute``) and the
    session's event log: the build and plan spans' self times, the action
    span split into Spark-busy time and driver gap, and the task metrics of
    every job submitted during the row."""
    op = next(s for s in spans if s.name == "op")
    st = harness.self_times(spans)
    rec = {
        "wall_s": op.dur,
        "queries.build_s": st.get("queries.build", 0.0),
        "catalyst.plan_s": st.get("catalyst.plan", 0.0),
        "spark.busy_s": 0.0,
        "driver.gap_s": 0.0,
        "build.busy_s": 0.0,
        "build.jobs": 0,
    }
    for s in spans:
        if s.name == "spark.execute":
            busy, gap = perfbench_run.split_jobs(s, log)
            rec["spark.busy_s"] += busy
            rec["driver.gap_s"] += gap
        elif s.name == "queries.build":
            # Jobs a query runs while it is built (checkpoints, probes):
            # part of the build's self time, attributed but not a layer.
            rec["build.busy_s"] += perfbench_run.split_jobs(s, log)[0]
            rec["build.jobs"] += len(log.submitted(s.start - 0.005, s.end))
    layers = sum(rec[k] for k in LAYERS)
    rec.update(log.totals(log.submitted(op.start - 0.005, op.end)))
    rec["pyworker.cpu_s"] = pyworker_s
    rec = {k: round(float(v), 4) if k.endswith("_s") else int(v) for k, v in rec.items()}
    rec["reconciled"] = (
        abs(op.dur - layers) <= perfbench_run.RECONCILE_TOLERANCE * op.dur
    )
    return rec


class Sweep:
    """Runs rows one after another in one session with every span traced;
    each row's Python-worker CPU is taken around it."""

    def __init__(self, spark):
        self.spark = spark
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = jvm.pid if jvm else os.getpid()
        self.tracer = harness.Tracer(enabled=True)
        self.pyworker: dict[str, float] = {}

    def row(self, name: str, build=None, action=None) -> None:
        """Time ``build`` -> plan -> noop write, or ``action`` alone."""
        tr = self.tracer
        cpu0 = harness.pyworker_cpu(self.jvm_pid)
        with tr.span(name, "op"):
            if action is None:
                with tr.span(name, "queries.build"):
                    df = build()
                with tr.span(name, "catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()

                def action():
                    df.write.format("noop").mode("overwrite").save()

            with tr.span(name, "spark.execute"):
                action()
        self.pyworker[name] = harness.cpu_delta(
            cpu0, harness.pyworker_cpu(self.jvm_pid)
        )
        print(f"# {name}: {tr.spans[-1].dur:.3f}s", file=sys.stderr)


def lifecycle_rows(sweep: Sweep, sf_dir: str, work: str) -> None:
    """The index-lifecycle halves: build and serve of the persisted PQ and
    IVF-PQ indexes (build offline, serve per query batch), then the PQ
    refresh halves on an index a drifted batch was appended to: the stale
    index's recall audit, and the audit-triggered retrain and re-encode.
    The refresh setup (build + append) is untimed."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries import similarity_pq as pq
    from log_analysis_system_spark.queries.similarity import (
        N_QUERIES,
        _norm,
        _quantized,
    )

    spark = sweep.spark
    vecs = _quantized(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") < N_QUERIES).select("vec_id", "e")
    for kind, build, search in (
        ("pq", pq.build_pq_index, pq.search_pq_index),
        ("ivfpq", pq.build_ivfpq_index, pq.search_ivfpq_index),
    ):
        idx = os.path.join(work, kind)
        sweep.row(f"{kind}_index_build", action=lambda: build(spark, sf_dir, idx))
        sweep.row(f"{kind}_index_search", build=lambda: search(spark, idx, queries))

    idx = os.path.join(work, "pq_refresh")
    pq.build_pq_index(spark, sf_dir, idx)
    delta = vecs.select(
        (F.col("vec_id") + 10**6).alias("vec_id"),
        F.expr(pq.PQ_DRIFT_EXPR).alias("e"),
    ).withColumn("nrm", _norm("e"))
    pq.append_pq_index(spark, idx, delta, batch_id=0)
    drifted = vecs.where(F.col("vec_id") < N_QUERIES).select(
        (F.col("vec_id") + 2 * 10**6).alias("vec_id"),
        F.expr(pq.PQ_DRIFT_EXPR).alias("e"),
    )
    sweep.row(
        "pq_refresh_audit",
        action=lambda: pq.audit_pq_index_recall(spark, idx, drifted),
    )
    sweep.row(
        "pq_refresh_rebuild",
        action=lambda: pq.refresh_pq_index(spark, idx, drifted),
    )


def row_line(name: str, rec: dict, pin: float) -> str:
    """One compact stdout line per row, with its wall time over its pin."""
    return (
        f"{name} {rec['wall_s']:.3f}s x{rec['wall_s'] / pin:.2f}"
        f" build {rec['queries.build_s']:.2f} (busy {rec['build.busy_s']:.2f},"
        f" jobs {rec['build.jobs']}) plan {rec['catalyst.plan_s']:.2f}"
        f" busy {rec['spark.busy_s']:.2f} gap {rec['driver.gap_s']:.2f}"
        f" jobs {rec['spark.jobs']}" + ("" if rec["reconciled"] else " UNRECONCILED")
    )


def final_line(
    total: float,
    sf: float | str,
    n_queries: int,
    loadavg: list[float],
    nproc: int,
    unreconciled: int,
) -> str:
    """The single stdout JSON line the driver parses. It carries no per-row
    detail (that lives in BENCH_DETAIL.json, pointed to by "detail")."""
    return json.dumps(
        {
            "metric": "headline_queries_total_wall_clock",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": n_queries,
            "nproc": nproc,
            "action": "noop",
            "loadavg": loadavg,
            "load_ok": bool(loadavg and loadavg[0] < LOAD_OK_MAX),
            "unreconciled": unreconciled,
            "detail": "BENCH_DETAIL.json",
        }
    )


def main() -> None:
    load_all()
    pins = read_pins()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf = float(sf) if sf.replace(".", "").isdigit() else sf
    loadavg = [round(v, 2) for v in os.getloadavg()]
    nproc = harness.nproc()
    print(f"# loadavg={loadavg} nproc={nproc}", file=sys.stderr)

    work = tempfile.mkdtemp(prefix="bench-")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sweep = Sweep(spark)
        # Warm the JVM/codegen once so the first row times its plan, not
        # first-call setup.
        spark.range(1000).selectExpr("sum(id)").collect()
        for name in pins["queries"]:
            sweep.row(name, build=lambda: QUERIES[name](spark, sf_dir))
        lifecycle_rows(sweep, sf_dir, work)
        perfbench_run.stop_spark(spark)  # flushes the event log
        spark = None
        log = harness.EventLog.read(log_dir)
    finally:
        if spark is not None:
            perfbench_run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    records = {
        name: layer_record(spans, log, sweep.pyworker[name])
        for name, spans in sweep.tracer.by_op().items()
    }
    walls = {name: rec["wall_s"] for name, rec in records.items()}
    total = round(sum(walls.values()), 3)
    unreconciled = [n for n, rec in records.items() if not rec["reconciled"]]
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "nproc": nproc,
        "action": "noop",
        "loadavg": loadavg,
        # Registered-query serve paths vs index build/rebuild lifecycle
        # halves, so offline-build cost cannot mask a serve-path regression.
        "headline_sec": round(sum(walls[n] for n in pins["queries"]), 3),
        "lifecycle_sec": round(sum(walls[n] for n in pins["lifecycle"]), 3),
        "unreconciled": unreconciled,
        "rows": records,
    }
    with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")
    with open(os.path.join(ROOT, "BENCH_HISTORY.jsonl"), "a") as f:
        slim = {"ts": int(time.time()), "nproc": nproc, "loadavg": loadavg,
                "sf": sf, "value": total, "queries": walls}
        f.write(json.dumps(slim) + "\n")
    pin = {**pins["queries"], **pins["lifecycle"]}
    for name, rec in records.items():
        print(row_line(name, rec, pin[name]))
    print(final_line(total, sf, len(pins["queries"]), loadavg, nproc, len(unreconciled)))


if __name__ == "__main__":
    main()

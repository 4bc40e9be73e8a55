"""Benchmark of the clickstream engine, one workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Spark runs as local[nproc] in this one client
process. Every input, sink output, checkpoint, state table, event log and
temp file lives under ``.perfbench-work/`` in the repository root and is
removed at the end, except the trace (``.perfbench-work/traces/``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one untraced
and then one traced window in the same process and prints the per-layer
metrics, the tracing overhead and the ops whose layers do not reconcile with
their wall time. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.time()  # set-up is timed from here: interpreter start to this line is ~30 ms

import argparse  # noqa: E402
import datetime  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

import harness  # noqa: E402
from inputs import parquet_size  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "op/s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.generate_s": "s",
    "engine.init_s": "s",
    "warmup_s": "s",
    "inputs.rows": "count",
    "inputs.bytes": "bytes",
    "queries.build_s": "s",
    "catalyst.plan_s": "s",
    "driver.gap_s": "s",
    "pyworker.cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.result_bytes": "bytes",
    "spark.busy_s": "s",
    "runner.submit_s": "s",
    "sinks.write_s": "s",
    "sinks.rows": "count",
    "sinks.bytes": "bytes",
    "streaming.batch_s": "s",
    "streaming.wait_s": "s",
    **{
        f"streaming.trigger.{p}_ms": "ms"
        for p in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "triggerExecution")
    },
    "streaming.rows_per_batch": "count",
    "streaming.batches": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_files": "count",
    "streaming.backlog_files": "count",
    "gen.late_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.unreconciled_ops": "count",
}
RECONCILE_TOLERANCE = 0.10


def start_spark(work: str, trace: bool):
    """local[nproc] session whose every file lands under ``work``."""
    from log_analysis_system_spark.session import get_spark

    conf = {
        # Below the engine's 8g default: with 8g the heap grows by a different
        # amount in each run, and peak_rss_mb spread by a third between seeds.
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/derby",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app_name="perfbench", cpus=harness.nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its workers are gone."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = harness.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.05)
    for p in children:
        if os.path.exists(f"/proc/{p}"):
            os.kill(p, 9)


def e2e(ops: list, ad: bool) -> tuple[dict[str, float], tuple[float, int]]:
    lat = [op.end - op.start for op in ops]
    span = max(op.end for op in ops) - min(op.start for op in ops)
    done = sum(op.records for op in ops if op.ok) if ad else len(ops)
    value, pct, n = harness.tail(lat)
    return (
        {
            "latency_p50_s": harness.median(lat),
            "latency_tail_s": value,
            "throughput_per_s": done / span,
        },
        (pct, n),
    )


ACTION_SPANS = ("spark.execute", "sinks.write")
TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "triggerExecution")


def split_jobs(span, log) -> tuple[float, float]:
    """(busy, gap): the part of ``span`` during which a Spark job submitted
    in it was running (event-log clock), and the rest."""
    jobs = log.submitted(span.start - 0.005, span.end)
    busy = harness.covered([(j.start, j.end or span.end) for j in jobs], span.start, span.end)
    return busy, span.dur - busy


def epoch_s(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def layer_metrics(ctx, wl, traced_ops: list, untraced_ops: list, ad: bool) -> tuple[dict, list, list]:
    """Per-layer numbers of the traced window, and the ops, micro-batches and
    files whose reported layer figures do not add up to their wall time."""
    m = {k: 0.0 for k in LAYER_UNITS}
    m.update({k: ctx.phases.get(k, 0.0) for k in ("session.start_s", "sources.generate_s", "engine.init_s", "warmup_s")})
    m["inputs.rows"] = float(sum(r for r, _ in ctx.inputs.values()))
    m["inputs.bytes"] = float(sum(b for _, b in ctx.inputs.values()))
    log = harness.EventLog.read(os.path.join(ctx.work, "eventlog"))
    by_op = ctx.tracer.by_op()
    per_unit, unreconciled = [], []

    def mean(key: str, values: list[float]) -> None:
        m[key] = sum(values) / len(values) if values else 0.0

    if not ad:
        # Each op's wall time splits into the reported layer figures: the
        # self time of the build, plan and submit spans, and each action
        # span (the noop write, the sink write) as Spark-job busy time plus
        # driver gap. Time outside every span is unattributed.
        rows = []
        for op in traced_ops:
            spans = by_op.get(op.op_id, [])
            st = harness.self_times(spans)
            row = {
                "queries.build_s": st.get("queries.build", 0.0),
                "catalyst.plan_s": st.get("catalyst.plan", 0.0),
                "runner.submit_s": st.get("runner.submit", 0.0),
                "spark.busy_s": 0.0,
                "driver.gap_s": 0.0,
            }
            for s in spans:
                if s.name in ACTION_SPANS:
                    busy, gap = split_jobs(s, log)
                    row["spark.busy_s"] += busy
                    row["driver.gap_s"] += gap
            wall = op.end - op.start
            layers = sum(row.values())
            if abs(wall - layers) > RECONCILE_TOLERANCE * wall:
                unreconciled.append(f"{op.op_id} {op.kind}: wall {wall:.3f} s, layers {layers:.3f} s")
            row.update(log.totals(log.submitted(op.start - 0.005, op.end)))
            row["sinks.write_s"] = st.get("sinks.write", 0.0)
            if op.op_id in wl.tasks:
                row["sinks.rows"], row["sinks.bytes"] = map(float, parquet_size(wl.tasks[op.op_id][2]))
            rows.append(row)
            per_unit.append({"unit": op.op_id, "kind": op.kind, "wall_s": wall, **row})
        tasks = [r for r, op in zip(rows, traced_ops) if op.op_id in wl.tasks]
        queries = [r for r, op in zip(rows, traced_ops) if op.op_id not in wl.tasks]
        for key in ("runner.submit_s", "sinks.write_s", "sinks.rows", "sinks.bytes"):
            mean(key, [r[key] for r in tasks])
        mean("queries.build_s", [r["queries.build_s"] for r in queries])
        for key in ("catalyst.plan_s", "spark.busy_s", "driver.gap_s", *harness.TASK_FIELDS,
                    "spark.jobs", "spark.stages", "spark.tasks"):
            mean(key, [r[key] for r in rows])
        m["pyworker.cpu_s"] = ctx.pyworker_s / max(1, len(traced_ops))
    else:
        # A micro-batch's triggerExecution (Spark's clock) splits into the
        # foreachBatch call (streaming.batch, this process's clock) and the
        # trigger's other phases; a file's latency into its wait for the
        # trigger that read it and that trigger's triggerExecution.
        progress = {p["batchId"]: p for p in wl.progress}
        batches = [s for s in ctx.tracer.spans if s.name == "streaming.batch"]
        rows = []
        for b in batches:
            bid = int(b.op.removeprefix("batch"))
            busy, gap = split_jobs(b, log)
            row = {"streaming.batch_s": b.dur, "spark.busy_s": busy, "driver.gap_s": gap}
            row["sinks.write_s"] = sum(s.dur for s in by_op.get(b.op, []) if s.name == "sinks.write")
            row.update(log.totals(log.submitted(b.start - 0.005, b.end)))
            p = progress.get(bid)
            if p is not None:
                d = p["durationMs"]
                row.update({f"streaming.trigger.{k}_ms": float(d.get(k, 0)) for k in TRIGGER_PHASES})
                row["streaming.rows_per_batch"] = float(p["numInputRows"])
                other = sum(v for k, v in d.items() if k not in ("addBatch", "triggerExecution"))
                layers = b.dur * 1e3 + other
                if abs(d["triggerExecution"] - layers) > RECONCILE_TOLERANCE * d["triggerExecution"]:
                    unreconciled.append(
                        f"batch{bid}: triggerExecution {d['triggerExecution']} ms, layers {layers:.0f} ms"
                    )
            else:
                unreconciled.append(f"batch{bid}: no progress report")
            rows.append(row)
            per_unit.append({"unit": b.op, "wall_s": b.dur, **row})
        for key in ("streaming.batch_s", "spark.busy_s", "driver.gap_s", "sinks.write_s",
                    *harness.TASK_FIELDS, "spark.jobs", "spark.stages", "spark.tasks",
                    *(f"streaming.trigger.{k}_ms" for k in TRIGGER_PHASES), "streaming.rows_per_batch"):
            mean(key, [r.get(key, 0.0) for r in rows])
        m["streaming.batches"] = float(len(batches))
        m["pyworker.cpu_s"] = ctx.pyworker_s / max(1, len(batches))
        batch_of = {os.path.basename(path): bid for path, bid in wl.batch_of.items()}
        waits = []
        for op in traced_ops:
            p = progress.get(batch_of.get(op.op_id, -1))
            if not op.ok or p is None:
                continue
            wait = epoch_s(p["timestamp"]) - op.start
            waits.append(wait)
            lat, layers = op.end - op.start, wait + p["durationMs"]["triggerExecution"] / 1e3
            if abs(lat - layers) > RECONCILE_TOLERANCE * lat:
                unreconciled.append(f"{op.op_id}: latency {lat:.3f} s, wait + trigger {layers:.3f} s")
        mean("streaming.wait_s", waits)
        files = [os.path.join(d, f) for d, _, fs in os.walk(wl.state_dir) for f in fs]
        m["streaming.state_files"] = float(len(files))
        m["streaming.state_bytes"] = float(sum(os.path.getsize(f) for f in files))
        m["streaming.backlog_files"] = float(
            max(sum(1 for o in traced_ops if o.start <= op.start < o.end) for op in traced_ops)
        )
        traced_files = {op.op_id for op in traced_ops}
        late = [e["done"] - e["due"] for e in wl.gen_log if os.path.basename(e["file"]) in traced_files]
        m["gen.late_s"] = max(late) if late else 0.0
    p50_traced = e2e(traced_ops, ad)[0]["latency_p50_s"]
    p50_plain = e2e(untraced_ops, ad)[0]["latency_p50_s"]
    m["trace.overhead_ratio"] = p50_traced / p50_plain - 1.0
    m["trace.unreconciled_ops"] = float(len(unreconciled))
    return m, unreconciled, per_unit


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (the smoke test)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "log_analysis_system_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    import workloads  # imports the engine

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    for d in ("tmp", "derby", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    trace = bool(args.trace)
    host = {"nproc": harness.nproc(), "load_start": harness.loadavg()}
    sampler = harness.RssSampler(exclude_cmd="adgen.py")
    sampler.start()
    spark = None
    wl = None
    try:
        t = time.time()
        spark = start_spark(work, trace)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        ctx = workloads.Context(
            spark, work, args.seed, args.small, harness.Tracer(), jvm.pid if jvm else os.getpid()
        )
        ctx.phases["session.start_s"] = time.time() - t
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        windows = [(args.seconds, False)] + ([(args.seconds, True)] if trace else [])
        results = wl.run(windows)
        sampler.stop()
        host["load_end"] = harness.loadavg()
        ops = [op for window in results for op in window]
        good = wl.check(ops)  # untimed
        wl.finish()
        stop_spark(spark)  # flushes the event log
        spark = None

        ad = args.workload == "ad_realtime"
        failed = [op for op in ops if not op.ok or not good[op.op_id]]
        e2e_m, (pct, n) = e2e(results[0], ad)
        e2e_m["setup_s"] = min(op.start for op in results[0]) - T0
        e2e_m["peak_rss_mb"] = sampler.peak / 2**20

        print(f"host nproc={host['nproc']} loadavg_start={host['load_start']:.2f} loadavg_end={host['load_end']:.2f}")
        for name, value in ctx.phases.items():
            print(f"phase {name} = {value:.3f} s")
        for name, (rows, size) in sorted(ctx.inputs.items()):
            print(f"input {name} rows={rows} bytes={size}")
        for i, window in enumerate(results):
            for op in window:
                print(f"op window={i} {op.op_id} {op.kind} {op.end - op.start:.3f} s")
        for op in failed:
            print(f"failed {op.op_id} {op.kind} {op.error or 'wrong result'}")
        print(f"failed_ratio = {len(failed) / len(ops):.4f} ratio ({len(failed)}/{len(ops)} ops)")
        print(f"latency_tail_s is p{pct:.1f} of {n} samples")
        if trace:
            metrics, unreconciled, per_unit = layer_metrics(ctx, wl, results[1], results[0], ad)
            units = LAYER_UNITS
            for line in unreconciled:
                print(f"unreconciled {line}")
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            ctx.tracer.dump(
                os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json"),
                {"host": host, "phases": ctx.phases, "units": per_unit, "metrics": metrics,
                 "unreconciled": unreconciled},
            )
        else:
            metrics, units = e2e_m, E2E_UNITS
        for name, value in metrics.items():
            print(f"metric {name} = {value:.6g} {units[name]}")
        print(
            json.dumps(
                {
                    "correct": not failed,
                    "attempted": len(ops),
                    "failed": len(failed),
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            try:
                if wl is not None:
                    wl.finish()
            finally:
                stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

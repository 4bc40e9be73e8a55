"""The benchmark's workloads. Each one sets up (inputs, layer init, an untimed
warm-up pass), runs timed windows of ops, and checks its outputs untimed.

- ``session_queries``: closed loop, one client, registry queries through
  ``Engine.query`` into a ``noop`` write, and the reference's page and area
  tasks through ``runner`` into its parquet sink.
- ``ad_realtime``: open loop, a generator process writes ad-click files on a
  fixed schedule into ``build_file_stream`` -> ``AdAnalyticsPipeline``.

Every call into a layer is wrapped in a tracer span; spans are recorded only
in a traced window.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from harness import Tracer, cpu_delta, nproc, pyworker_cpu
from inputs import write_native_tables, write_sf_tables

import checks


@dataclass
class Op:
    op_id: str
    kind: str
    start: float  # for the open loop: when the input was due
    end: float
    ok: bool = True
    error: str = ""
    records: int = 0


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    small: bool
    tracer: Tracer
    jvm_pid: int
    phases: dict[str, float] = field(default_factory=dict)
    inputs: dict[str, tuple[int, int]] = field(default_factory=dict)
    # Python-worker CPU seconds of the traced window
    pyworker_s: float = 0.0

    @contextmanager
    def phase(self, name: str):
        t0 = time.time()
        yield
        self.phases[name] = time.time() - t0


# --------------------------------------------------------- session_queries --

SESSION_QUERIES = (
    "session_agg",
    "session_filter",
    "stratified_sample",
    "top10_session_per_category",
    "funnel",
)
#: The reference's jobs 2 and 3, submitted through ``runner`` into
#: ``runner.parquet_sink`` on the native clickstream tables.
TASKS = ("page_task", "area_task")
NATIVE_DATES = ("2018-12-01", "2018-12-02", "2018-12-03")  # mock_user_visit_data's


class SessionQueries:
    """Closed loop, one client: the next op starts when the previous one
    returns. An op is a registry query (``Engine.query`` through a ``noop``
    write) or a runner task (``run_page_task`` / ``run_area_task`` with its
    sink write). A window is a fixed number of whole rounds, each op kind once
    per round in the order of ``kinds``: round(seconds / ROUND_S), where
    ROUND_S is a round's length on a 4-core host, so a window lasts about
    ``seconds``. Fixed work in a fixed order keeps the op mix, count and
    sequence the same in every run; the seed draws the data and the task
    parameters."""

    kinds = SESSION_QUERIES + TASKS
    ROUND_S = 15.0
    NATIVE_USERS = 150  # about 23,000 actions

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.n = 0
        # task op id -> (kind, TaskParams fields, sink directory)
        self.tasks: dict[str, tuple[str, dict, str]] = {}

    def draw_params(self, kind: str) -> dict:
        """A task's parameters, drawn from the FIXTURES §5 space the two jobs
        read: an inclusive date range and, for job 2, a page flow."""
        i = self.rng.randrange(len(NATIVE_DATES))
        params = {"start": NATIVE_DATES[i], "end": NATIVE_DATES[self.rng.randrange(i, len(NATIVE_DATES))]}
        if kind == "page_task":
            k = self.rng.randint(4, 7)
            first = self.rng.randint(0, 10 - k)
            params["flow"] = list(range(first, first + k))
        return params

    def timed(self, kind: str) -> Op:
        op_id = f"op{self.n:04d}"
        self.n += 1
        params = self.draw_params(kind) if kind in TASKS else None
        rec = Op(op_id, kind, time.time(), 0.0)
        try:
            with self.ctx.tracer.span(op_id, "op"):
                self.op(op_id, kind, params)
        except Exception as exc:  # an op failure is counted, not fatal
            rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"[:300]
        rec.end = time.time()
        return rec

    def window(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        for _ in range(max(1, round(seconds / self.ROUND_S))):
            ops.extend(self.timed(kind) for kind in self.kinds)
        return ops

    def run(self, windows: list[tuple[float, bool]]) -> list[list[Op]]:
        out = []
        for seconds, traced in windows:
            self.ctx.tracer.enabled = traced
            cpu0 = pyworker_cpu(self.ctx.jvm_pid)
            out.append(self.window(seconds))
            if traced:
                self.ctx.pyworker_s = cpu_delta(cpu0, pyworker_cpu(self.ctx.jvm_pid))
        self.ctx.tracer.enabled = False
        return out

    def finish(self) -> None:
        pass

    def setup(self) -> None:
        from log_analysis_system_spark.engine import Engine

        ctx = self.ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.native_dir = os.path.join(ctx.work, "native")
        self.sink_dir = os.path.join(ctx.work, "sink")
        size = {"n_events": 5_000, "n_customers": 1_500} if ctx.small else {}
        with ctx.phase("sources.generate_s"):
            ctx.inputs = write_sf_tables(self.sf_dir, ctx.seed, **size)
            native = write_native_tables(self.native_dir, ctx.seed, 20 if ctx.small else self.NATIVE_USERS)
            ctx.inputs.update({f"native.{k}": v for k, v in native.items()})
        with ctx.phase("engine.init_s"):
            self.engine = Engine(self.sf_dir, ctx.spark)
            self.native = {n: ctx.spark.read.parquet(os.path.join(self.native_dir, n)) for n in native}
        # The cold pass: every op kind once, concurrently, so the JVM's cold
        # start (class loading, JIT, codegen) is paid on all cores. It
        # collects each query's rows, which the oracle check compares (the
        # timed ops run the same plans on the same data).
        def warm(kind: str, params: dict | None):
            try:
                if kind in TASKS:
                    return kind, self.task(f"warm-{kind}", kind, params)
                df = self.engine.query(kind)
                return kind, (df.columns, df.collect())
            except Exception:  # a failing kind fails its timed ops; the run goes on
                return kind, None

        calls = [(k, self.draw_params(k) if k in TASKS else None) for k in self.kinds]
        with ctx.phase("warmup_s"):
            with ThreadPoolExecutor(max_workers=min(nproc(), len(calls))) as pool:
                self.results = dict(pool.map(lambda call: warm(*call), calls))
            # Then one untimed round, run as the timed rounds are. The first
            # round after the cold pass alone ran about 40% slower than the
            # steady state, by however far JIT compilation had got; after
            # this round the next round's length spread about a third less
            # between runs (4-core host).
            self.window(self.ROUND_S)

    def op(self, op_id: str, kind: str, params: dict | None) -> None:
        if kind in TASKS:
            self.task(op_id, kind, params)
            return
        tr = self.ctx.tracer
        with tr.span(op_id, "queries.build"):
            df = self.engine.query(kind)
        if tr.enabled:
            with tr.span(op_id, "catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span(op_id, "spark.execute"):
            df.write.format("noop").mode("overwrite").save()

    def task(self, op_id: str, kind: str, params: dict) -> None:
        from log_analysis_system_spark import runner

        tr = self.ctx.tracer
        out_dir = os.path.join(self.sink_dir, op_id)
        self.tasks[op_id] = (kind, params, out_dir)
        write = runner.parquet_sink(out_dir)

        def sink(df, name: str) -> None:
            if tr.enabled:
                with tr.span(op_id, "catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(op_id, "sinks.write"):
                write(df, name)

        doc = {"startDate": [params["start"]], "endDate": [params["end"]]}
        actions = self.native["user_visit_action"]
        with tr.span(op_id, "runner.submit"):
            if kind == "page_task":
                doc["targetPageFlow"] = [",".join(map(str, params["flow"]))]
                runner.run_page_task(actions, json.dumps(doc), sink)
            else:
                runner.run_area_task(
                    actions, self.native["city_info"], self.native["product_info"], json.dumps(doc), sink
                )

    def check(self, ops: list[Op]) -> dict[str, bool]:
        """Registry queries: the rows the cold pass collected against the
        query's oracle. Tasks: each op's sink output against DuckDB SQL for
        that op's parameters."""
        from log_analysis_system_spark.queries import ORACLES
        from log_analysis_system_spark.sources.catalog import TABLES

        con = checks.sf_connection(self.sf_dir, list(TABLES))
        good = {}
        for name in SESSION_QUERIES:
            result = self.results[name]
            if result is None:
                good[name] = False
                continue
            n, h = checks.registry_hash(*result)
            dcols, dn, dh = checks.oracle_hash(con, ORACLES[name])
            good[name] = (sorted(result[0]), n, h) == (dcols, dn, dh) and n > 0
        native = checks.native_connection(self.native_dir)
        out = {}
        for op in ops:
            if op.kind not in TASKS:
                out[op.op_id] = good[op.kind]
                continue
            _, p, out_dir = self.tasks[op.op_id]
            if op.kind == "page_task":
                table, sql = "page_split_convert_rate", checks.page_task_sql(p["start"], p["end"], p["flow"])
            else:
                table, sql = "area_top3_product", checks.area_task_sql(p["start"], p["end"])
            try:
                out[op.op_id] = checks.task_matches(native, os.path.join(out_dir, table), sql)
            except Exception:  # nothing written, or unreadable
                out[op.op_id] = False
        return out


# ------------------------------------------------------------- ad_realtime --

class AdRealtime:
    """Open loop: one generator process writes a file every ``INTERVAL_S``
    seconds; an op is one file, timed from when it was due to the commit of
    the micro-batch that read it."""

    INTERVAL_S = 0.5
    RECORDS = 250  # per file: 500 records/s offered
    # A fixed trigger, as the reference's 5 s micro-batch interval. 6 s lets
    # a batch (3-5 s on a 4-core host) end before the next trigger, and a
    # window of whole trigger periods then gives every run the same spread of
    # waits for a trigger, whatever the schedule's phase against it.
    TRIGGER_S = 6
    WARM_S = 4.0
    DRAIN_TIMEOUT_S = 60.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.records = 20 if ctx.small else self.RECORDS
        self.in_dir = os.path.join(ctx.work, "ad-in")
        self.state_dir = os.path.join(ctx.work, "ad-state")
        self.ckpt = os.path.join(ctx.work, "ad-ckpt")
        self.next_file = 0
        self.gen_log: list[dict] = []
        self.query = None
        self.batch_op = ""

    def _batch(self, df, batch_id: int) -> None:
        self.batch_op = f"batch{batch_id:05d}"
        with self.ctx.tracer.span(self.batch_op, "streaming.batch"):
            self.pipeline.process_batch(df, batch_id)

    def _timed_sink(self, write):
        """Wrap one of the pipeline's state writers in a ``sinks.write`` span."""

        def call(*args, **kwargs):
            with self.ctx.tracer.span(self.batch_op, "sinks.write"):
                return write(*args, **kwargs)

        return call

    def _wait_committed(self, n_files: int, timeout: float) -> bool:
        """Wait until ``n_files`` files sit in committed micro-batches."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if os.path.isdir(os.path.join(self.ckpt, "sources", "0")):
                done = checks.commit_times(self.ckpt)
                batches = checks.source_batches(self.ckpt)
                if len(batches) >= n_files and all(b in done for b in batches.values()):
                    return True
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            time.sleep(0.05)
        return False

    def setup(self) -> None:
        from log_analysis_system_spark.streaming import ad_analytics

        ctx = self.ctx
        os.makedirs(self.in_dir)
        with ctx.phase("sources.generate_s"):
            self._generate(1, lambda start: None)
        with ctx.phase("engine.init_s"):
            self.pipeline = ad_analytics.AdAnalyticsPipeline(self.state_dir)
            # The per-batch state upserts: the keyed-partition swap and the
            # top-3 table's keyed overwrite.
            self.pipeline._swap_in = self._timed_sink(self.pipeline._swap_in)
            ad_analytics.overwrite_keyed_parquet = self._timed_sink(
                ad_analytics.overwrite_keyed_parquet
            )
            self.query = (
                ad_analytics.build_file_stream(ctx.spark, self.in_dir)
                .writeStream.foreachBatch(self._batch)
                .option("checkpointLocation", self.ckpt)
                .outputMode("update")
                .trigger(processingTime=f"{self.TRIGGER_S} seconds")
                .start()
            )
        # Warm-up, part one: a first batch, alone, creates the state tables;
        # a second takes the merge-with-state path. Part two is the first
        # WARM_S of run()'s schedule.
        self.warm_t0 = time.time()
        for n in (1, 2):
            if n > 1:
                self._generate(1, lambda start: None)
            if not self._wait_committed(n, 120):
                raise RuntimeError(f"warm-up batch {n - 1} did not commit")

    def _generate(self, n_files: int, switch_windows) -> list[dict]:
        """Run the generator process for ``n_files`` files starting now;
        ``switch_windows`` is called with the schedule's start time (it
        switches the tracer between windows). Returns the generator's log."""
        start = time.time() + 0.05
        log_path = os.path.join(self.ctx.work, f"adgen-{self.next_file}.json")
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(os.path.dirname(__file__), "adgen.py"),
                "--dir", self.in_dir, "--seed", str(self.ctx.seed),
                "--first", str(self.next_file), "--files", str(n_files),
                "--interval", str(self.INTERVAL_S), "--records", str(self.records),
                "--start", str(start), "--log", log_path,
            ]
        )
        try:
            switch_windows(start)
            gen.wait(timeout=n_files * self.INTERVAL_S + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        self.next_file += n_files
        with open(log_path) as fh:
            return json.load(fh)

    def run(self, windows: list[tuple[float, bool]]) -> list[list[Op]]:
        """One schedule: WARM_S of untimed files (the stream reaches its
        steady state at the offered rate), then each window's files, with no
        pause between them."""
        ctx = self.ctx
        counts = [round(self.WARM_S / self.INTERVAL_S)] + [max(1, round(s / self.INTERVAL_S)) for s, _ in windows]
        cpu0 = None

        def switch(start: float) -> None:
            # The tracer turns on when the first traced file is due.
            nonlocal cpu0
            for i, (_, traced) in enumerate([(0.0, False)] + windows):
                time.sleep(max(0.0, start + sum(counts[:i]) * self.INTERVAL_S - time.time()))
                ctx.tracer.enabled = traced
                if traced:
                    cpu0 = pyworker_cpu(ctx.jvm_pid)
            ctx.phases["warmup_s"] = start + counts[0] * self.INTERVAL_S - self.warm_t0

        self.gen_log = self._generate(sum(counts), switch)
        ctx.inputs = {
            "ad_click_files": (
                self.next_file * self.records,
                sum(os.path.getsize(os.path.join(self.in_dir, f)) for f in os.listdir(self.in_dir)),
            )
        }
        self._wait_committed(self.next_file, self.DRAIN_TIMEOUT_S)
        ctx.tracer.enabled = False
        if cpu0 is not None:
            ctx.pyworker_s = cpu_delta(cpu0, pyworker_cpu(ctx.jvm_pid))
        batch_of = checks.source_batches(self.ckpt)
        commit = checks.commit_times(self.ckpt)
        # A trigger reports its progress just after writing its commit marker.
        deadline = time.time() + 10
        while time.time() < deadline:
            self.progress = [json.loads(p.json) for p in self.query.recentProgress]
            if max(commit, default=-1) <= max((p["batchId"] for p in self.progress), default=-1):
                break
            time.sleep(0.05)
        out, i = [], counts[0]
        for n in counts[1:]:
            ops = []
            for entry in self.gen_log[i : i + n]:
                b = batch_of.get(entry["file"])
                ok = b is not None and b in commit
                ops.append(
                    Op(
                        os.path.basename(entry["file"]), "file", entry["due"],
                        commit[b] if ok else entry["due"] + self.DRAIN_TIMEOUT_S,
                        ok=ok, error="" if ok else "not committed", records=entry["records"],
                    )
                )
            out.append(ops)
            i += n
        self.batch_of = batch_of
        return out

    def finish(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def check(self, ops: list[Op]) -> dict[str, bool]:
        self.finish()
        by_batch: dict[int, list[str]] = {}
        for path, b in self.batch_of.items():
            by_batch.setdefault(b, []).append(path)
        expected = checks.replay_ad_state([sorted(by_batch[b]) for b in sorted(by_batch)])
        good = all(checks.ad_state_matches(self.state_dir, expected).values())
        return {op.op_id: good for op in ops}


WORKLOADS = {
    "session_queries": SessionQueries,
    "ad_realtime": AdRealtime,
}

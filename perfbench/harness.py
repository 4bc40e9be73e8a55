"""Measurement plumbing shared by the workloads: host facts, the process-tree
RSS sampler, Python-worker CPU, latency statistics, the span tracer and the
Spark event-log reader. Nothing here imports Spark."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    return os.getloadavg()[0]


# ------------------------------------------------------------ /proc tree ----

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed.
    return raw[raw.rfind(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    st = _stat(pid)
    return int(st[21]) * PAGE if st else 0


def pyworker_cpu(root: int) -> dict[int, float]:
    """User+system CPU seconds of each PySpark worker process under ``root``,
    including workers that already exited into their daemon (cutime)."""
    out = {}
    for pid in descendants(root):
        cmd = _cmdline(pid)
        if "pyspark.daemon" not in cmd and "pyspark.worker" not in cmd:
            continue
        st = _stat(pid)
        if st:
            out[pid] = sum(int(x) for x in st[11:15]) / CLK_TCK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU the workers alive at ``after`` used since ``before``; a worker
    that exited in between is not counted."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the JVM
    and its Python workers, not processes whose command line holds
    ``exclude_cmd``) until stopped; ``peak`` is the maximum seen."""

    def __init__(self, exclude_cmd: str, period_s: float = 0.2, rescan_s: float = 2.0):
        self.exclude_cmd = exclude_cmd
        self.period_s = period_s
        self.rescan_s = rescan_s  # walking all of /proc costs more than sampling
        self.peak = 0
        self._pids: list[int] = []
        self._scanned = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        if time.monotonic() - self._scanned > self.rescan_s:
            me = os.getpid()
            self._pids = [me] + [
                p for p in descendants(me) if self.exclude_cmd not in _cmdline(p)
            ]
            self._scanned = time.monotonic()
        self.peak = max(self.peak, sum(rss_bytes(p) for p in self._pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ------------------------------------------------------------- statistics ---

def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest value, at percentile 100 * (n - 10) / n. Returns (value,
    percentile, sample count). With 20 or fewer samples that percentile is
    not above the median, so the highest percentile with one sample beyond
    it is returned instead: the second-largest value, which one slow op
    cannot move."""
    n = len(values)
    ordered = sorted(values)
    beyond = min(10 if n > 20 else 1, n - 1)
    return ordered[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ spans ---

@dataclass
class Span:
    sid: int
    op: str
    name: str
    parent: int | None
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans around the benchmark's calls into each layer, kept in memory
    and written out once at the end. Disabled, ``span`` costs one branch."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next: int = 0

    @contextmanager
    def span(self, op: str, name: str):
        if not self.enabled:
            yield
            return
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, op, name, parent, start, time.time()))

    def by_op(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.op, []).append(s)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": [s.__dict__ for s in self.spans], **extra}, fh, indent=1
            )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer name: span duration minus the part its child spans cover."""
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c.start, c.end) for c in spans if c.parent == s.sid]
        out[s.name] = out.get(s.name, 0.0) + s.dur - covered(kids, s.start, s.end)
    return out


# -------------------------------------------------------------- event log ---

@dataclass
class Job:
    start: float
    end: float = 0.0
    stages: set[int] = field(default_factory=set)


TASK_FIELDS = (
    "exec.run_s",
    "exec.cpu_s",
    "exec.gc_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "exec.spill_bytes",
    "exec.result_bytes",
)


@dataclass
class EventLog:
    """Jobs, completed stages and task metrics parsed from one Spark event
    log (``spark.eventLog.enabled``)."""

    jobs: dict[int, Job] = field(default_factory=dict)
    stages_done: set[int] = field(default_factory=set)
    # stage id -> list of per-task metric tuples (order of TASK_FIELDS)
    tasks: dict[int, list[tuple[float, ...]]] = field(default_factory=dict)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        # Spark 4 writes a rolling log: a directory of events_<n>_<app> files.
        for d, _, files in os.walk(log_dir):
            for name in sorted(files):
                if not name.startswith("events_"):
                    continue
                with open(os.path.join(d, name)) as fh:
                    for line in fh:
                        log._event(json.loads(line))
        return log

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = Job(
                ev["Submission Time"] / 1000.0, stages=set(ev["Stage IDs"])
            )
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
            self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            self.stages_done.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append(
                (
                    m.get("Executor Run Time", 0) / 1e3,
                    m.get("Executor CPU Time", 0) / 1e9,
                    m.get("JVM GC Time", 0) / 1e3,
                    sw.get("Shuffle Bytes Written", 0),
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    m.get("Result Size", 0),
                )
            )

    def submitted(self, lo: float, hi: float) -> list[Job]:
        """Jobs submitted within [lo, hi]."""
        return [j for j in self.jobs.values() if lo <= j.start <= hi]

    def totals(self, jobs: list[Job]) -> dict[str, float]:
        stages = set().union(*(j.stages for j in jobs)) if jobs else set()
        rows = [t for s in stages for t in self.tasks.get(s, [])]
        out = {f: float(sum(r[i] for r in rows)) for i, f in enumerate(TASK_FIELDS)}
        out["spark.jobs"] = float(len(jobs))
        out["spark.stages"] = float(len(stages & self.stages_done))
        out["spark.tasks"] = float(len(rows))
        return out

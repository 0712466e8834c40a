"""Measurement machinery: Spark session lifecycle, the closed-loop op
loop, latency statistics and the span tracer.

Nothing here knows about a particular workload; see ``workloads.py``.
"""

from __future__ import annotations

import math
import os
import signal
import subprocess
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional


# ------------------------------------------------------------------ session
class SparkHost:
    """Owns the JVM-backed SparkSession for one benchmark process.

    ``start`` may be called repeatedly: the first call launches the JVM,
    later calls stop the previous session and start a fresh one in the
    same JVM (what a long-lived client does after ``spark.stop()``).
    """

    def __init__(self, work: str, cores: int, tracer: "Tracer"):
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self._proc = None

    def start(self, warehouse: str):
        from bio2bel_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                warehouse=warehouse,
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.driver.memory": "2g",
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        if self._proc is None:
            self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def storage_memory_bytes(self) -> int:
        """Unified (execution + storage) memory the block manager may use."""
        sc = self.spark.sparkContext
        status = sc._jsc.sc().getExecutorMemoryStatus()
        it = status.valuesIterator()
        total = 0
        while it.hasNext():
            total += it.next()._1()
        return total

    def peak_rss_mb(self) -> float:
        """Peak resident set of this process plus the JVM, from /proc."""
        pids = [os.getpid()] + ([self._proc.pid] if self._proc else [])
        return sum(_vm_hwm_kb(p) for p in pids) / 1024.0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = self._proc
        if proc is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        workers = _descendants(proc.pid)  # Python workers the JVM started
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in workers:  # they exit once the JVM has gone
            while _running(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _running(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # exited just now


def _stat(pid) -> list:
    """Fields of /proc/<pid>/stat after the command name ([0] is the
    state, [1] the parent PID); empty once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _running(pid: int) -> bool:
    fields = _stat(pid)
    return bool(fields) and fields[0] not in ("Z", "X")  # zombies have ended


def _descendants(pid: int) -> list:
    """PIDs of every process below ``pid``, read from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        fields = _stat(entry) if entry.isdigit() else []
        if fields:
            children[int(fields[1])].append(int(entry))
    out, stack = [], [pid]
    while stack:
        for child in children[stack.pop()]:
            out.append(child)
            stack.append(child)
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# ------------------------------------------------------------------- tracing
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: str


class Tracer:
    """In-memory spans and counts; disabled tracers record nothing.

    Spans nest by a stack (the benchmark is single-threaded), so a span's
    parent is whatever span was open when it began. ``wrap`` installs a
    span around a program function for the duration of the run — that is
    how calls *between* layers (a populate writing a table) are seen
    without changing the program.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, list] = defaultdict(list)  # name -> [(op, value)]
        self._stack: list[int] = []
        self.op = "-"
        self._patches: list = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name].append((self.op, value))

    @contextmanager
    def bookkeeping(self):
        """Tracer-only work (listing files, querying Spark status)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def patch(self, owner, attr: str, make: Callable) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until ``unwrap_all``."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def wrap(self, owner, attr: str, name: str, after: Optional[Callable] = None):
        """Record ``name`` around ``owner.attr``; ``after(result, args,
        kwargs)`` runs outside the span to take counts."""
        def make(original):
            def traced(*args, **kwargs):
                with self.span(name):
                    out = original(*args, **kwargs)
                if after is not None:
                    with self.bookkeeping():
                        after(out, args, kwargs)
                return out
            return traced

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # --------------------------------------------------------------- reports
    def self_times(self) -> list[float]:
        """Per-span duration minus the time its direct children cover."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def per_name_self(self) -> dict[str, list[float]]:
        out = defaultdict(list)
        for s, own in zip(self.spans, self.self_times()):
            out[s.name].append(own)
        return out


# ----------------------------------------------------------------- op loop
@dataclass
class Op:
    """One client request: ``run`` does the work, ``check`` validates it."""

    cls: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    rows: int = 0  # raw input rows the op ingests, for row throughput


@dataclass
class Results:
    latencies: dict = field(default_factory=lambda: defaultdict(list))
    rows: dict = field(default_factory=lambda: defaultdict(int))
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    op_time_s: float = 0.0
    wall_s: float = 0.0
    rounds: int = 0
    jobs: list = field(default_factory=list)
    tasks: list = field(default_factory=list)
    failed_tasks: int = 0


def run_op(op: Op, res: Results, tracer: Tracer, spark, op_id: str,
           release: Callable[[], None]) -> None:
    """Time one op, verify its output, then release what it cached."""
    sc = spark.sparkContext
    if tracer.enabled:
        sc.setJobGroup(op_id, op.cls)
    tracer.op = op_id
    ok, err = False, None
    t0 = time.perf_counter()
    with tracer.span(f"op.{op.cls}"):
        try:
            out = op.run()
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            out, err = None, e
    dt = time.perf_counter() - t0
    if err is None:
        try:
            ok = bool(op.check(out))
        except Exception as e:  # noqa: BLE001
            err = e
    res.attempted += 1
    res.latencies[op.cls].append(dt)
    res.rows[op.cls] += op.rows
    res.op_time_s += dt
    if not ok:
        res.failed += 1
        res.failures.append(f"{op_id} {op.cls}: {err!r}" if err else f"{op_id} {op.cls}: wrong answer")
    if tracer.enabled:
        with tracer.bookkeeping():
            _count_jobs(sc, op_id, res)
            sc.setLocalProperty("spark.jobGroup.id", None)
    tracer.op = "-"
    release()


def _count_jobs(sc, group: str, res: Results) -> None:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numTasks
                res.failed_tasks += stage.numFailedTasks
    res.jobs.append(len(jobs))
    res.tasks.append(tasks)


# ------------------------------------------------------------------ stats
def percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_percentile(n: int) -> int:
    """Highest of p99/p90/p75/p50 with at least ten samples beyond it."""
    for q in (99, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return 50


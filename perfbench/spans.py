"""Spans, client proxies and process/Spark counters for the traced run.

Everything here times calls made FROM the benchmark into the engine's
public API; nothing inside ``onetable_spark`` is instrumented. Spans stay
in memory and are reduced to per-layer numbers when the run ends.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc


def steal_ticks() -> int:
    """Host-wide steal time (USER_HZ ticks) from the ``cpu`` line of
    /proc/stat; the delta over a run says how much the hypervisor took."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _stat(pid: int) -> Optional[list[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; everything after the last ')' is fixed-width
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children when asked)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if children:
        ticks += int(st[13]) + int(st[14])
    return ticks / _CLK_TCK


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def jvm_pid() -> Optional[int]:
    """The local-mode Spark JVM: the ``java`` process under this one."""
    for pid in descendants(os.getpid()):
        if _comm(pid) == "java":
            return pid
    return None


def python_worker_cpu_s(jvm: Optional[int]) -> float:
    """CPU of the pyspark worker processes (``python*`` under the JVM),
    including workers the daemon already reaped."""
    if jvm is None:
        return 0.0
    return sum(
        cpu_seconds(p, children=True)
        for p in descendants(jvm)
        if _comm(p).startswith("python")
    )


def jit_cpu_s(jvm: Optional[int]) -> float:
    """CPU of the JVM's JIT compiler threads ("C1/C2 CompilerThread")."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{jvm}/task") if jvm else []
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "Compiler" in raw[raw.index("(") + 1:raw.rindex(")")]:
            st = raw[raw.rindex(")") + 2:].split()
            total += int(st[11]) + int(st[12])
    return total / _CLK_TCK


def jvm_work_cpu_s(jvm: Optional[int]) -> float:
    """CPU of the Spark JVM less its JIT compiler threads. Compilation is
    warm-up work, and which op it lands on varies from run to run: it is
    most of the JVM's CPU in a run of this benchmark."""
    return cpu_seconds(jvm or 0) - jit_cpu_s(jvm)


def tree_cpu_s(jvm: Optional[int]) -> float:
    """CPU of this process, the Spark JVM (less JIT) and its Python workers."""
    return cpu_seconds(os.getpid()) + jvm_work_cpu_s(jvm) + python_worker_cpu_s(jvm)


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                continue
    return total


# ------------------------------------------------------------------ py4j


class Py4jCounter:
    """Counts py4j round trips and the driver time spent waiting on them,
    by wrapping the connection classes' ``send_command`` while active.
    The counts add up over every time it is entered."""

    def __init__(self) -> None:
        self.calls = 0
        self.wait_s = 0.0
        self._lock = threading.Lock()
        self._saved: list = []

    def __enter__(self):
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def timed(conn, command, *a, _orig=orig, **kw):
                t0 = time.perf_counter()
                try:
                    return _orig(conn, command, *a, **kw)
                finally:
                    d = time.perf_counter() - t0
                    with self._lock:
                        self.calls += 1
                        self.wait_s += d

            self._saved.append((cls, orig))
            cls.send_command = timed
        return self

    def __exit__(self, *exc):
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    id: int = 0
    run: str = ""
    groups: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


class Tracer:
    """In-memory span recorder with Spark job attribution.

    Every span that touches Spark runs under a job group of its own
    (``pb-<run>-<n>``): statusTracker accumulates job ids per group name,
    so a reused name would double-count. Job groups are thread-local in
    pinned-thread mode, so spans opened on the SyncClient's fan-out
    threads set their own group; their parent is the op span open on the
    main thread.
    """

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root: Optional[int] = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    # -- reductions -------------------------------------------------------

    def self_ms(self, span: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start - covered) * 1000

    def jobs_of(self, spans: list[Span]) -> list[int]:
        tracker = self.spark.sparkContext.statusTracker()
        ids: set[int] = set()
        for s in spans:
            for g in s.groups:
                ids.update(tracker.getJobIdsForGroup(g))
        return sorted(ids)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.t
        stack = t._stack()
        parent = stack[-1].id if stack else t.root
        sp = Span(self.name, 0.0, parent=parent, id=next(t._ids), run=t.run)
        group = f"pb-{t.run}-{sp.id}"
        sp.groups.append(group)
        sc = t.spark.sparkContext
        self._prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, self.name, False)
        stack.append(sp)
        sp.start = time.perf_counter()
        return sp

    def __exit__(self, *exc):
        t = self.t
        sp = t._stack().pop()
        sp.end = time.perf_counter()
        sc = t.spark.sparkContext
        if self._prev is not None:
            sc.setJobGroup(self._prev, self._prev, False)
        else:
            # a null local property removes it (SparkContext has no
            # clearJobGroup in pyspark 4)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        with t._lock:
            t.spans.append(sp)


# ------------------------------------------------------------- proxies


class SourceProxy:
    """Times each SourceClient protocol method of a real source client."""

    def __init__(self, real, fmt: str, tracer: Tracer) -> None:
        self.real, self.fmt, self.t = real, fmt.lower(), tracer

    def current_snapshot(self):
        with self.t.span(f"{self.fmt}.snapshot"):
            return self.real.current_snapshot()

    def changes_since(self, millis, pending):
        # the generator's work happens on each next(): time every step
        it = iter(self.real.changes_since(millis, pending))
        while True:
            with self.t.span(f"{self.fmt}.changes"):
                try:
                    change = next(it)
                except StopIteration:
                    return
            yield change

    def is_incremental_sync_safe_from(self, millis):
        with self.t.span(f"{self.fmt}.safe_check"):
            return self.real.is_incremental_sync_safe_from(millis)

    def inflight_instants(self, millis, pending):
        with self.t.span(f"{self.fmt}.inflight"):
            return self.real.inflight_instants(millis, pending)


class TargetProxy:
    """Times each TargetClient protocol method; the span also sets the
    job group on the calling (fan-out) thread."""

    def __init__(self, real, tracer: Tracer) -> None:
        self.real, self.t = real, tracer
        self.table_format = real.table_format
        self.fmt = real.table_format.value.lower()

    def get_sync_metadata(self):
        with self.t.span(f"{self.fmt}.get_sync_metadata"):
            return self.real.get_sync_metadata()

    def sync_snapshot(self, snapshot, metadata):
        with self.t.span(f"{self.fmt}.sync_snapshot"):
            return self.real.sync_snapshot(snapshot, metadata)

    def sync_change(self, change, metadata):
        with self.t.span(f"{self.fmt}.sync_change"):
            return self.real.sync_change(change, metadata)


# ------------------------------------------------------------ counters


class Counters:
    """Process, py4j and Spark-job counters summed over the traced passes
    only: wrap each traced pass in ``active()``."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.jvm = jvm_pid()
        self.py_cpu_s = self.jvm_cpu_s = self.worker_cpu_s = 0.0
        self.py4j = Py4jCounter()
        self.job_ranges: list[tuple[int, int]] = []

    @contextmanager
    def active(self):
        me, jvm = os.getpid(), self.jvm
        py0, jvm0, pw0 = cpu_seconds(me), jvm_work_cpu_s(jvm), python_worker_cpu_s(jvm)
        j0 = self.tracer.next_job_id()
        with self.py4j:
            yield
        self.job_ranges.append((j0, self.tracer.next_job_id()))
        self.py_cpu_s += cpu_seconds(me) - py0
        self.jvm_cpu_s += jvm_work_cpu_s(jvm) - jvm0
        self.worker_cpu_s += python_worker_cpu_s(self.jvm) - pw0


# --------------------------------------------------------- spark layer


def spark_totals(spark, job_ids) -> dict:
    """Stage/task/executor counters summed over ``job_ids``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, tasks=0, single_task_stages=0, cpu_ns=0, run_ms=0,
               shuffle_write=0, input=0)
    seen: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in list(info.stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            out["stages"] += 1
            n = st.numTasks()
            out["tasks"] += n
            out["single_task_stages"] += n == 1
            out["cpu_ns"] += st.executorCpuTime()
            out["run_ms"] += st.executorRunTime()
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["input"] += st.inputBytes()
    return out


def tasks_of(spark, job_ids) -> int:
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in list(info.stageIds):
            st = tracker.getStageInfo(sid)
            n += st.numTasks if st is not None else 0
    return n

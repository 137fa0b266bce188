"""Span tracer and the instrumented objects the traced run hands to the
package.

Nothing in the package is patched. The traced run passes its own
objects through the package's public seams instead:

- ``CountingFileIO`` (a ``LocalFileIO``) through ``SparkCache(fileio=...)``;
- ``TracedCache`` (a ``SparkCache``) whose store is a subclass of the
  package's store class with spans around the public store calls;
- ``TracedStateWriter`` through ``SparkSource.read(state_writer=...)``.

Spark work is attributed by the application-wide job-id window around
each operation (jobs launched from pool threads carry no job group),
then read back from the JVM status store at the end of the run.
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyairbyte_spark.cache import SparkCache
from pyairbyte_spark.fileio import LocalFileIO
from pyairbyte_spark.state import BackendStateWriter
from pyairbyte_spark.writers import CommitLogTableStore, TableStore

clock = time.perf_counter


@dataclass
class Op:
    """One closed-loop operation of a phase."""

    op_id: int
    phase: str
    kind: str
    traced: bool
    timed: bool
    start: float = 0.0
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    plan_s: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans and counters. ``enabled`` is fixed per run;
    ``op.traced`` switches recording per operation, so one traced run
    can interleave traced and untraced operations and measure its own
    overhead."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.ops: list[Op] = []
        self.spans: list[tuple] = []  # (span_id, name, start, end, parent, op_id)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: Op | None = None
        self._next_span = 0

    # -- operations ---------------------------------------------------------

    def _job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def begin(self, phase: str, kind: str, traced: bool, timed: bool = True) -> Op:
        op = Op(len(self.ops), phase, kind, self.enabled and traced, timed)
        if op.traced:
            op.job_lo = self._job_id()
        self._op = op
        op.start = clock()
        return op

    def end(self, op: Op, df=None) -> None:
        op.end = clock()
        self._op = None
        if op.traced:
            op.job_hi = self._job_id()
            if df is not None:
                op.plan_s = plan_seconds(df)
        self.ops.append(op)

    @property
    def active(self) -> bool:
        op = self._op
        return op is not None and op.traced

    # -- spans and counters -------------------------------------------------

    def span(self, name: str):
        return _Span(self, name) if self.active else contextlib.nullcontext()

    def add(self, key: str, value: float = 1.0) -> None:
        op = self._op
        if op is not None and op.traced:
            with self._lock:
                op.counters[key] += value

    def first(self, key: str, value: float) -> None:
        """Record ``key`` once per operation (the outermost caller wins)."""
        op = self._op
        if op is not None and op.traced:
            with self._lock:
                op.counters.setdefault(key, value)

    def _push(self) -> tuple[int, int | None]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_span
            self._next_span += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        return sid, parent

    def _pop(self, sid, name, start, end, parent) -> None:
        self._local.stack.pop()
        op = self._op
        with self._lock:
            self.spans.append((sid, name, start, end, parent, op.op_id if op else -1))


class _Span:
    __slots__ = ("t", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t = tracer
        self.name = name

    def __enter__(self):
        self.sid, self.parent = self.t._push()
        self.start = clock()
        return self

    def __exit__(self, *exc):
        self.t._pop(self.sid, self.name, self.start, clock(), self.parent)
        return False


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Per span name: total duration minus the part covered by child
    spans (children of one span do not overlap on one thread)."""
    child_s: dict[int, float] = defaultdict(float)
    for _, _, start, end, parent, _ in spans:
        if parent is not None:
            child_s[parent] += end - start
    out: dict[str, float] = defaultdict(float)
    for sid, name, start, end, _, _ in spans:
        out[name] += (end - start) - child_s.get(sid, 0.0)
    return out


def plan_seconds(df) -> float:
    """Catalyst phase time (analysis + optimization + planning) of the
    query that produced ``df``'s result."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


# -- instrumented package objects -------------------------------------------

_FILEIO_OPS = (
    "read_text", "write_text", "read_bytes", "write_bytes", "put_if_absent",
    "list_names", "list_files", "is_dir", "exists", "makedirs", "delete_file",
    "delete_dir", "rename", "open_input", "file_size",
)
FILEIO_MUTATING = ("write_text", "write_bytes", "put_if_absent", "makedirs",
                   "delete_file", "delete_dir", "rename")


def _counted(name: str):
    base = getattr(LocalFileIO, name)

    def method(self, *args, **kwargs):
        tracer = self.tracer
        if not tracer.active:
            return base(self, *args, **kwargs)
        t0 = clock()
        try:
            return base(self, *args, **kwargs)
        finally:
            tracer.add(f"fileio.{name}.n")
            tracer.add(f"fileio.{name}.s", clock() - t0)
            if name in ("write_text", "write_bytes", "put_if_absent"):
                tracer.add("fileio.bytes_written", len(args[1]))

    method.__name__ = name
    return method


class CountingFileIO(LocalFileIO):
    """Local FileIO that counts calls, seconds and bytes written per op."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer


for _name in _FILEIO_OPS:
    setattr(CountingFileIO, _name, _counted(_name))


STORE_CALLS = ("write", "read_where", "count_where", "agg_where", "read_version",
               "delete_where", "update_where", "plan_scan")
STORE_COMMITS = ("write", "delete_where", "update_where")


def _spanned(base_cls, name: str):
    base = getattr(base_cls, name)

    def method(self, *args, **kwargs):
        tracer = self.tracer
        if not tracer.active:
            return base(self, *args, **kwargs)
        with tracer.span(f"writers.{name}"):
            out = base(self, *args, **kwargs)
        if name in STORE_COMMITS:
            tracer.add("writers.commits")
        if isinstance(out, dict) and out.get("files_total"):
            total = out["files_total"]
            selected = out.get("files_selected")
            if selected is None and out.get("files_scanned") is not None:
                selected = out["files_scanned"] + (out.get("files_metadata") or 0)
            if selected is not None:
                tracer.first("writers.files_total", total)
                tracer.first("writers.files_selected", selected)
        return out

    method.__name__ = name
    return method


def _traced_store_class(base_cls):
    cls = type(f"Traced{base_cls.__name__}", (base_cls,), {})
    for name in STORE_CALLS:
        if hasattr(base_cls, name):
            setattr(cls, name, _spanned(base_cls, name))
    return cls


_TRACED_STORES = {cls: _traced_store_class(cls) for cls in (TableStore, CommitLogTableStore)}


class TracedCache(SparkCache):
    """A SparkCache whose store records a span per public store call and
    whose ``write_dataframe`` is a span of its own. The store is the one
    ``SparkCache`` built, retyped to its traced subclass, so traced and
    untraced runs construct the same store."""

    def __init__(self, spark, warehouse_dir: str, tracer: Tracer, **kwargs) -> None:
        super().__init__(spark, warehouse_dir, fileio=CountingFileIO(tracer), **kwargs)
        self.tracer = tracer
        self.store.__class__ = _TRACED_STORES[type(self.store)]
        self.store.tracer = tracer

    def write_dataframe(self, *args, **kwargs):
        with self.tracer.span("cache.write_dataframe"):
            return super().write_dataframe(*args, **kwargs)


class TracedStateWriter(BackendStateWriter):
    def __init__(self, cache: SparkCache, source_name: str, tracer: Tracer) -> None:
        super().__init__(cache.state_backend, source_name, cache.table_prefix)
        self.tracer = tracer

    def write_state(self, artifact) -> None:
        with self.tracer.span("state.write"):
            super().write_state(artifact)

    def flush(self, stream_name: str | None = None) -> None:
        with self.tracer.span("state.write"):
            super().flush(stream_name)


# -- Spark status store ------------------------------------------------------


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    busy_s: float = 0.0  # union of job [submission, completion] intervals


def job_stats(spark, ops: list[Op]) -> dict[int, JobStats]:
    """Per traced op: the jobs in its id window and their stage metrics,
    read once at the end of the run (status events are asynchronous,
    so the listener bus is drained first)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    status = jsc.statusStore()
    out: dict[int, JobStats] = {}
    for op in ops:
        if not op.traced:
            continue
        st = out[op.op_id] = JobStats()
        seen: set[int] = set()
        intervals = []
        for jid in range(op.job_lo, op.job_hi):
            try:
                job = status.job(jid)
            except Exception:  # evicted or never registered: skip the job
                continue
            st.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    stage = status.lastStageAttempt(sid)
                except Exception:  # stage data evicted: skip it
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                st.stages += 1
                st.tasks += stage.numTasks()
                st.executor_run_s += stage.executorRunTime() / 1e3
                st.executor_cpu_s += stage.executorCpuTime() / 1e9
                st.shuffle_write_bytes += stage.shuffleWriteBytes()
                st.input_bytes += stage.inputBytes()
        st.busy_s = _union_ms(intervals) / 1e3
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total

"""Spans around calls into the engine's layers, with per-span Spark cost.

A span records name, start, end, parent and request id. A span opened
with ``spark=True`` also owns a Spark job group: jobs launched while it
is the innermost such span are attributed to it, and their jobs,
stages, tasks, input records, output bytes, shuffle-write bytes,
executor CPU and busy intervals are read from Spark's status store when
the span exits — after the listener bus is drained, and never at the
end of the run, because the status store only retains the last
``spark.ui.retainedJobs``/``retainedStages`` entries.

The engine is not modified: the traced run hands the store subclasses
of its own seams (``TimeseriesStore``, ``StorageFilesystem``,
``ManifestCommit``) whose public methods open spans, and the benchmark
opens spans around the calls it makes itself. With ``Tracer(None)``
every span is a no-op and the plain engine classes are used.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: str
    start: float
    end: float = 0.0
    wall_start_ms: int = 0
    wall_end_ms: int = 0
    children: list = field(default_factory=list)
    # own Spark cost (jobs whose innermost span is this one)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    cpu_ns: int = 0
    job_intervals: list = field(default_factory=list)
    jobs_incl: int = 0
    # rows a read returned, for the rows-scanned ratio
    rows_out: int = 0
    # every job launched while an outermost Spark span was open, from
    # any thread (job ids are global): >= jobs_incl
    launched: int = 0
    # bookkeeping time spent by the tracer itself inside this span
    overhead_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "request_id": self.rid, "start_ms": self.wall_start_ms,
            "end_ms": self.wall_end_ms, "dur_ms": round(self.dur * 1e3, 3),
            "jobs": self.jobs, "stages": self.stages, "tasks": self.tasks,
            "input_records": self.input_records,
            "output_bytes": self.output_bytes,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "executor_cpu_ms": round(self.cpu_ns / 1e6, 3),
        }


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    """Collects spans in memory; ``Tracer(None)`` traces nothing."""

    def __init__(self, spark=None):
        self.enabled = spark is not None
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self.rid = "setup"
        self.unattributed_jobs = 0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def span(self, name: str, spark: bool = True):
        if not self.enabled:
            return _NO_SPAN
        return _SpanCtx(self, name, spark)

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1][0] if st else None

    def _next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _enter(self, name: str, spark: bool):
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1][0] if st else None
        sp = Span(
            sid=next(self._ids), name=name,
            parent=parent.sid if parent else None,
            rid=parent.rid if parent else self.rid, start=0.0,
        )
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        group = None
        if spark:
            group = f"perfbench-{sp.sid}"
            self.sc.setJobGroup(group, name)
        st.append((sp, group, self._next_job_id() if spark else 0))
        sp.wall_start_ms = int(time.time() * 1000)
        sp.start = time.perf_counter()
        sp.overhead_s += sp.start - t0

    def _exit(self) -> None:
        end = time.perf_counter()
        st = self._stack()
        sp, group, first_job = st.pop()
        sp.end = end
        sp.wall_end_ms = int(time.time() * 1000)
        sp.jobs_incl = sum(c.jobs_incl for c in sp.children)
        if group is not None:
            self._capture(sp, group)
            sp.jobs_incl += sp.jobs
            outer = next((g for g in reversed(st) if g[1] is not None), None)
            if outer is not None:
                self.sc.setJobGroup(outer[1], outer[0].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                # jobs launched from other threads carry no group: count
                # them so attribution gaps show instead of vanishing
                sp.launched = self._next_job_id() - first_job
                self.unattributed_jobs += max(0, sp.launched - sp.jobs_incl)
        sp.overhead_s += time.perf_counter() - end

    def _capture(self, sp: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        status = jsc.statusStore()
        ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        for jid in ids:
            job = status.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.job_intervals.append(
                    (sub.get().getTime(), done.get().getTime())
                )
            seq = job.stageIds()
            for i in range(seq.size()):
                st = status.lastStageAttempt(seq.apply(i))
                done_tasks = int(st.numCompleteTasks())
                if done_tasks == 0:
                    continue  # skipped stage: its output was reused
                sp.stages += 1
                sp.tasks += done_tasks
                sp.input_records += int(st.inputRecords())
                sp.output_bytes += int(st.outputBytes())
                sp.shuffle_write_bytes += int(st.shuffleWriteBytes())
                sp.cpu_ns += int(st.executorCpuTime())
        sp.jobs += len(ids)

    def traced(self, name: str, fn, spark: bool = True):
        """``fn`` wrapped in a span called ``name``."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name, spark):
                return fn(*a, **kw)

        return inner


class _SpanCtx:
    __slots__ = ("tr", "name", "spark")

    def __init__(self, tr: Tracer, name: str, spark: bool):
        self.tr, self.name, self.spark = tr, name, spark

    def __enter__(self):
        self.tr._enter(self.name, self.spark)
        return self.tr.current()

    def __exit__(self, *exc):
        self.tr._exit()
        return False


# ----------------------------------------------------------- aggregation
def inclusive(sp: Span, attr: str) -> float:
    return getattr(sp, attr) + sum(inclusive(c, attr) for c in sp.children)


def self_time(sp: Span) -> float:
    """The span's duration minus what its children (and the tracer's
    bookkeeping for them) cover."""
    return sp.dur - sum(c.dur + c.overhead_s for c in sp.children)


def busy_share(sp: Span) -> float:
    """Share of the span's wall time during which a Spark job of the
    span (or of a child span) was running."""
    ivs = []

    def walk(s):
        ivs.extend(s.job_intervals)
        for c in s.children:
            walk(c)

    walk(sp)
    lo, hi = sp.wall_start_ms, sp.wall_end_ms
    if hi <= lo:
        return 0.0
    covered, cur_end = 0, lo
    for a, b in sorted(ivs):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            covered += b - a
            cur_end = b
    return covered / (hi - lo)


# ------------------------------------------------------- traced seams
_FS_METHODS = (
    "exists", "is_dir", "makedirs", "listdir", "rename", "remove_tree",
    "link_or_copy", "rmdir_if_empty", "read_text", "create_exclusive",
    "remove_file", "touch", "write_text", "stat_signature", "age_seconds",
    "count_files_with_suffix",
)
_STORE_METHODS = ("write", "write_df", "flush_l0", "hot", "hot_pruned", "cold")


def traced_fs(tracer: Tracer):
    """A ``StorageFilesystem`` whose public calls are (Spark-less) spans."""
    from redis_lsm_timeseries_spark.fs import StorageFilesystem

    class TracedFS(StorageFilesystem):
        pass

    for name in _FS_METHODS:
        base = getattr(StorageFilesystem, name)

        def make(base=base, label=f"fs.{name}"):
            def method(self, *a, **kw):
                with tracer.span(label, spark=False):
                    return base(self, *a, **kw)
            return method

        setattr(TracedFS, name, make())
    return TracedFS()


def traced_commit(tracer: Tracer, base_cls):
    """An instance of a ``base_cls`` subclass whose public methods open a
    span when called from outside the backend (calls the backend makes
    on itself stay inside the outer span)."""
    depth = threading.local()

    def make(fn, label):
        @functools.wraps(fn)
        def method(self, *a, **kw):
            if getattr(depth, "n", 0):
                return fn(self, *a, **kw)
            depth.n = 1
            try:
                with tracer.span(label):
                    return fn(self, *a, **kw)
            finally:
                depth.n = 0
        return method

    ns = {
        name: make(raw, f"commit.{name}")
        for name in dir(base_cls)
        if not name.startswith("_")
        # plain functions only: static/class methods and attributes stay
        and inspect.isfunction(raw := inspect.getattr_static(base_cls, name))
    }
    return type(f"Traced{base_cls.__name__}", (base_cls,), ns)()


def traced_store_cls(tracer: Tracer):
    """A ``TimeseriesStore`` subclass whose public read/write/flush calls
    are spans (internal calls made by tiering/rollup included)."""
    from redis_lsm_timeseries_spark.store import TimeseriesStore

    ns = {
        name: tracer.traced(f"store.{name}", getattr(TimeseriesStore, name))
        for name in _STORE_METHODS
    }
    return type("TracedStore", (TimeseriesStore,), ns)

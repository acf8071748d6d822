"""Spans around calls into the program's layers, plus Spark engine counters.

The wrappers live here, not in the program: ``Tracer.wrap`` replaces a
public function or method of a ``flashml_spark`` (or pyspark) module with
a timing wrapper for the traced run and puts the original back on
``restore``.  Spans are kept in memory and summarised when the run ends.

Engine counters come from the Spark driver's status store (the store the
Spark UI reads; it is populated with the UI disabled).  Stages are
attributed to a span by time window, not by job group: the program's own
thread pools (page fan-out, CV, OVR, Platt) do not inherit a job group set
on the calling thread, so a group would miss most jobs.  Concurrent spans
(three page CVs, say) share their windows, so their per-span engine
counters overlap; per-run totals count every stage once.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "start", "end", "parent", "thread", "counts")

    def __init__(self, name, start, parent, thread):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.thread = thread
        self.counts = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent, thread) in memory.

    The parent is the innermost open span on the same thread; a span opened
    on a pool thread, which has no open span, gets the tracer's root span
    (one iteration of the workload)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.root: Span | None = None
        # seconds the tracing itself spent: span bookkeeping, wrapper
        # labels and counts
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        s = Span(name, time.time(), stack[-1] if stack else self.root,
                 threading.get_ident())
        stack.append(s)
        t1 = time.perf_counter()
        try:
            yield s
        finally:
            t2 = time.perf_counter()
            s.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(s)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextmanager
    def iteration(self, name: str):
        """The root span of one workload iteration (kept out of ``spans``)."""
        self.root = Span(name, time.time(), None, threading.get_ident())
        try:
            yield self.root
        finally:
            self.root.end = time.time()
            self.root = None

    # ---- wrappers ---------------------------------------------------------
    def wrap(self, owner, attr: str, name, count=None) -> None:
        """Time every call of ``owner.attr`` as a span.

        ``name`` is a string or ``callable(args) -> str | None`` (``None``:
        no span for this call).  ``count(result, args) -> dict`` adds counts
        to the span.  A module-level function is also replaced wherever a
        loaded ``flashml_spark`` module imported it by name."""
        raw = inspect.getattr_static(owner, attr)
        func = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw
        tracer = self

        @functools.wraps(func)
        def traced(*args, **kwargs):
            t = time.perf_counter()
            label = name(args) if callable(name) else name
            tracer.charge(time.perf_counter() - t)
            if label is None:
                return func(*args, **kwargs)
            with tracer.span(label) as s:
                out = func(*args, **kwargs)
                if count is not None:
                    t = time.perf_counter()
                    s.counts.update(count(out, args))
                    tracer.charge(time.perf_counter() - t)
                return out

        if isinstance(raw, classmethod):
            new = classmethod(traced)
        elif isinstance(raw, staticmethod):
            new = staticmethod(traced)
        else:
            new = traced
        self.patch(owner, attr, new)
        if inspect.ismodule(owner):
            for mod_name, mod in list(sys.modules.items()):
                if mod is owner or not mod_name.startswith("flashml_spark"):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is raw:
                        setattr(mod, key, new)
                        self._undo.append((mod, key, raw))

    def patch(self, owner, attr: str, new) -> None:
        """Set ``owner.attr = new`` until ``restore``."""
        raw = vars(owner).get(attr)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            if raw is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)
        self._undo.clear()


# ---------------------------------------------------------------------------
# Engine counters
# ---------------------------------------------------------------------------

# summed over the stages in a window, after the job and stage counts
STAGE_KEYS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes")


class EngineCounters:
    """Reads finished jobs and stages from the Spark driver's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _seq(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def snapshot(self) -> tuple[list, list]:
        """All retained jobs and stages as ``(jobs, stages)``; each job is
        ``(submit_s, job_id)``, each stage a dict with its submit time."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = [(self._ms(j.submissionTime()), j.jobId())
                for j in self._seq(self._store.jobsList(None))]
        stages = []
        for s in self._seq(self._store.stageList(None, False, False, self._no_quantiles, None)):
            stages.append({
                "submit": self._ms(s.submissionTime()),
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        return jobs, stages

    @staticmethod
    def window(jobs, stages, start: float, end: float) -> dict:
        """Counters of the jobs and stages submitted in ``[start, end]``."""
        out = {"jobs": sum(1 for t, _ in jobs if t is not None and start <= t <= end),
               "stages": 0, **dict.fromkeys(STAGE_KEYS, 0)}
        for s in stages:
            if s["submit"] is not None and start <= s["submit"] <= end:
                out["stages"] += 1
                for k in STAGE_KEYS:
                    out[k] += s[k]
        return out


# ---------------------------------------------------------------------------
# Summaries
# ---------------------------------------------------------------------------

def union_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarise(spans: list[Span]) -> dict:
    """Per span name: call count, summed seconds, self seconds (duration
    minus the union of its children's intervals) and summed counts."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(id(s.parent), []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"spans": 0, "seconds": 0.0, "self_s": 0.0})
        row["spans"] += 1
        row["seconds"] += s.seconds
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in children.get(id(s), ()) if c.end > s.start and c.start < s.end]
        row["self_s"] += s.seconds - union_seconds(kids)
        for k, v in s.counts.items():
            row[k] = row.get(k, 0) + v
    return out

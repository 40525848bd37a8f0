"""Spans at layer boundaries, and the Spark jobs each span submitted.

A span is recorded around a call into one of the engine's public
functions (``Tracer.span`` / ``Tracer.patch``).  While a span is open
on a thread, every Spark job that thread submits carries the span's
job tag, so after the run the jobs, stages, task time and bytes of a
call are read back from Spark's own status store and attributed to the
innermost span that submitted them.  Nothing inside the engine is
changed: tags are thread-local Spark properties set from outside.

Spans live in memory until the run ends.  With tracing off,
``Tracer.span`` is a no-op and ``patch`` installs nothing.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    tags: tuple[str, ...]
    start: float
    end: float
    stage_ids: tuple[int, ...]


@dataclass
class Stage:
    num_tasks: int = 0
    run_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0


_TAG_PREFIX = "perfbench-span-"


class Tracer:
    """Records spans; ``enabled=False`` makes every method a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: parent for spans opened on threads with no open span (the
        #: engine's own worker pools, never the main thread); set by the
        #: caller around a call that fans out to such threads
        self.ambient: int | None = None
        #: spans that start before this instant (a workload's lead-in)
        #: are left out of every query
        self.since = 0.0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif threading.current_thread() is threading.main_thread():
            # the benchmark's own thread (its reads run while a batch
            # is in flight) is never part of the engine's fan-out
            parent = None
        else:
            parent = self.ambient
        with self._lock:
            sp = Span(next(self._ids), name, parent, 0.0, attrs=dict(attrs))
            self.spans[sp.id] = sp
        tag = f"{_TAG_PREFIX}{sp.id}"
        sc = self.spark.sparkContext
        sc.addJobTag(tag)
        stack.append(sp.id)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            sc.removeJobTag(tag)

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) in
        a span named ``name`` until :meth:`unpatch`.  ``before(args)``
        runs outside the span and returns attrs for it; ``after(span,
        args)`` runs outside the span once it has closed."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = before(args) if before is not None else {}
            with self.span(name, **attrs) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                after(sp, args)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def patch_everywhere(self, module_prefix: str, func, name: str) -> None:
        """Wrap ``func`` under every name it is bound to in the loaded
        modules of a package (``from x import f`` copies the binding)."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(module_prefix) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.patch(mod, attr, name)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- span queries ----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [
            s
            for s in self.spans.values()
            if s.name == name and s.end and s.start >= self.since
        ]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans.values() if s.parent == sp.id]

    def subtree(self, sp: Span, exclude: tuple[str, ...] = ()) -> set[int]:
        """Ids of ``sp`` and its descendants, without the subtrees of
        descendants named in ``exclude``."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans.values():
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = set(), [sp]
        while todo:
            s = todo.pop()
            out.add(s.id)
            todo.extend(k for k in kids.get(s.id, []) if k.name not in exclude)
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
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


def self_time(sp: Span, children: list[Span]) -> float:
    """A span's duration minus the part its child spans cover."""
    clipped = [
        (max(c.start, sp.start), min(c.end, sp.end))
        for c in children
        if c.end > sp.start and c.start < sp.end
    ]
    return sp.wall - union_length(clipped)


class StatusStore:
    """Spark's own record of jobs and stages (the live status store
    that backs ``statusTracker`` and the UI), read after a run."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()

    def _drain(self) -> None:
        # the store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    @staticmethod
    def _seq(scala_seq) -> list:
        return [scala_seq.apply(i) for i in range(scala_seq.size())]

    def jobs(self) -> list[Job]:
        self._drain()
        out = []
        for jd in self._seq(self._jsc.statusStore().jobsList(None)):
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or end.isEmpty():
                continue
            out.append(
                Job(
                    id=jd.jobId(),
                    tags=tuple(self._seq(jd.jobTags())),
                    start=sub.get().getTime() / 1000.0,
                    end=end.get().getTime() / 1000.0,
                    stage_ids=tuple(int(s) for s in self._seq(jd.stageIds())),
                )
            )
        return out

    def stages(self) -> dict[int, Stage]:
        """Per stage id, summed over its attempts."""
        self._drain()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        seq = self._jsc.statusStore().stageList(None, False, False, no_quantiles, None)
        out: dict[int, Stage] = {}
        for sd in self._seq(seq):
            st = out.setdefault(sd.stageId(), Stage())
            st.num_tasks += sd.numCompleteTasks()
            st.run_s += sd.executorRunTime() / 1000.0
            st.input_bytes += sd.inputBytes()
            st.input_records += sd.inputRecords()
            st.output_bytes += sd.outputBytes()
            st.output_records += sd.outputRecords()
            st.shuffle_write_bytes += sd.shuffleWriteBytes()
        return out


def innermost_span(job: Job) -> int | None:
    """The innermost (newest) benchmark span a job was submitted under."""
    ids = [int(t[len(_TAG_PREFIX):]) for t in job.tags if t.startswith(_TAG_PREFIX)]
    return max(ids) if ids else None

"""Spans for the traced run: wall intervals around public calls, each tagged
with its own Spark job group so the status store can say which jobs, stages,
bytes and executor time every span launched.

Spans are recorded by wrapping functions of ``vectrain_spark`` from the
benchmark's own files (:meth:`Tracer.wrap`); the program itself carries no
tracing code. Spark is lazy, so the wrapped calls are the eager ones
(catalog writes, finalize, a group's commit loop, the analytics calls with
their result collection); plan-building calls would show ~0 s.

A span's Spark counts are its *own* jobs: a job belongs to the innermost
open span of the thread that submitted it, because each span sets the
thread-local ``spark.jobGroup.id`` for its lifetime. Counts are read after
the operation, when the listener bus has drained, so reading them costs the
timed region nothing.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

JOB_GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "kgbench-"

# per-span Spark counters, summed over the span's own non-skipped stages
COUNT_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "input_bytes",
    "output_bytes",
    "output_records",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "thread", "counts")

    def __init__(self, sid: int, name: str, parent: int | None, op: str | None,
                 start: float, thread: int):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.start = start
        self.end: float | None = None
        self.thread = thread
        self.counts = dict.fromkeys(COUNT_KEYS, 0)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    def to_json(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "op": self.op,
            "start": round(self.start, 6),
            "end": round(self.end, 6) if self.end is not None else None,
            "thread": self.thread,
            **self.counts,
        }


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span: Span, others) -> float:
    """Part of ``span``'s interval covered by the union of ``others``."""
    clipped = [
        (max(o.start, span.start), min(o.end, span.end))
        for o in others
        if o.end is not None and o.end > span.start and o.start < span.end
    ]
    return union_length(clipped)


def self_time(span: Span, spans) -> float:
    """Span duration minus the union of its direct children's intervals.

    Children may run in other threads and overlap each other (finalize's
    quarantine and lineage writes overlap its dedup), so the covered part is
    an interval union, never a sum."""
    return span.dur - covered(span, [s for s in spans if s.parent == span.sid])


class Tracer:
    """Collects spans; installs and removes wrappers around program calls.

    ``sc`` is the SparkContext (None in unit tests: no job-group tagging).
    Spans opened in a thread with no open span of its own (a pool thread
    the program started) take as parent the innermost open span of the
    thread that began the operation.
    """

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._op: str | None = None
        self._op_thread: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = False

    # -- operation scope ------------------------------------------------
    def begin_op(self, op: str) -> None:
        self._op = op
        self._op_thread = threading.get_ident()
        self.counters = {}
        self.enabled = True

    def end_op(self) -> list[Span]:
        self.enabled = False
        ops = [s for s in self.spans if s.op == self._op]
        self._op = None
        return ops

    # -- spans ------------------------------------------------------------
    def _parent(self) -> int | None:
        tid = threading.get_ident()
        stack = self._stacks.get(tid)
        if not stack and self._op_thread is not None:
            stack = self._stacks.get(self._op_thread)
        return stack[-1].sid if stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        tid = threading.get_ident()
        with self._lock:
            sp = Span(next(self._ids), name, self._parent(), self._op,
                      time.perf_counter(), tid)
            self.spans.append(sp)
            self._stacks.setdefault(tid, []).append(sp)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(JOB_GROUP_KEY)
            self.sc.setLocalProperty(JOB_GROUP_KEY, f"{GROUP_PREFIX}{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP_KEY, prev)
            with self._lock:
                self._stacks[tid].pop()

    def add_span(self, name: str, start: float, end: float, parent: Span) -> Span:
        """Record a span derived from others (e.g. a gap between two) below
        ``parent``, in its operation."""
        with self._lock:
            sp = Span(next(self._ids), name, parent.sid, parent.op, start, 0)
            sp.end = end
            self.spans.append(sp)
        return sp

    def count(self, key: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[key] = self.counters.get(key, 0) + n

    # -- wrapping -----------------------------------------------------------
    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a wrapper running it inside a span.
        ``name`` is a string or ``f(*args, **kwargs) -> str``."""
        orig = getattr(owner, attr)
        naming = name if callable(name) else (lambda *a, **k: name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(naming(*args, **kwargs)):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def wrap_count(self, owner, attr: str, key: str) -> None:
        """Replace ``owner.attr`` by a wrapper that counts its calls."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            self.count(key)
            return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark counts ---------------------------------------------------------
    def resolve(self, spans: list[Span], first_job: int, end_job: int) -> dict:
        """Attach status-store counts to ``spans`` for jobs in
        [first_job, end_job); return the run-wide totals of those jobs."""
        totals = dict.fromkeys(COUNT_KEYS, 0)
        if self.sc is None:
            return totals
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group = {f"{GROUP_PREFIX}{s.sid}": s for s in spans}
        seen_stages: set[int] = set()
        for jid in range(first_job, end_job):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the store or never registered
                continue
            grp = job.jobGroup()
            owner = by_group.get(grp.get()) if grp.isDefined() else None
            delta = dict.fromkeys(COUNT_KEYS, 0)
            delta["jobs"] = 1
            sids = job.stageIds()
            for i in range(sids.length()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                seen_stages.add(sid)
                delta["stages"] += 1
                delta["tasks"] += st.numTasks()
                delta["executor_run_ms"] += st.executorRunTime()
                delta["input_bytes"] += st.inputBytes()
                delta["output_bytes"] += st.outputBytes()
                delta["output_records"] += st.outputRecords()
                delta["shuffle_write_bytes"] += st.shuffleWriteBytes()
                delta["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            for k, v in delta.items():
                totals[k] += v
                if owner is not None:
                    owner.counts[k] += v
        return totals


def dump(path: str, spans: list[Span]) -> None:
    """Append spans to a JSON-lines file."""
    with open(path, "a") as f:
        for s in spans:
            f.write(json.dumps(s.to_json()) + "\n")


def subtree(span: Span, spans) -> list[Span]:
    """``span`` and every span below it."""
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def subtree_counts(span: Span, spans) -> dict:
    tot = dict.fromkeys(COUNT_KEYS, 0)
    for s in subtree(span, spans):
        for k in COUNT_KEYS:
            tot[k] += s.counts[k]
    return tot

"""Span recorder for the traced run.

Spans are recorded from the benchmark's own files: each op is a root
span, and the public functions of the engine's modules are wrapped by
replacing the module attribute, which is how the gate reaches them
(``cow.delete(...)``, ``catalog.resolve(...)``). Each span keeps name,
start, end, parent and op id in memory; ``dump`` writes them out.

Spark jobs come from the status store. A wrapper that may run jobs
sets a job group naming its span, so each job belongs to the
innermost such span, then to the deepest descendant whose interval
holds its submission time. Jobs without a group (threads that do not
inherit it) are attributed by time containment alone. Self time is a
span's duration minus the part of it that child spans and its own
jobs cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    thread: int
    start: float = 0.0
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int
    tasks: int
    task_s: float
    input_bytes: int
    shuffle_bytes: int
    spill_bytes: int
    span: int | None = None


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[int, Span] = {}
        self.jobs: dict[int, Job] = {}
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._op_stack: list[Span] | None = None
        self._op_id = 0

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, sets_group: bool) -> tuple[Span, str | None]:
        t = time.perf_counter()
        st = self._stack()
        # a thread the op started (ingest's worker pool) has an empty
        # stack: its spans belong under the op thread's innermost span
        op_st = self._op_stack
        parent = st[-1] if st else (op_st[-1] if op_st else None)
        span = Span(next(self._ids), name, parent.id if parent else None, self._op_id,
                    threading.get_ident())
        prev = None
        if sets_group:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + str(span.id))
        st.append(span)
        with self._lock:
            self.spans[span.id] = span
            if parent is not None:
                parent.children.append(span.id)
            self.overhead_s += time.perf_counter() - t
        span.start = time.time()
        return span, prev

    def _close(self, span: Span, sets_group: bool, prev: str | None) -> None:
        span.end = time.time()
        t = time.perf_counter()
        self._stack().pop()
        if sets_group:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
        with self._lock:
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def op(self, name: str):
        """The root span of one op of the closed loop."""
        self._op_id += 1
        root, prev = self._open(name, True)
        self._op_stack = self._stack()
        try:
            yield root
        finally:
            self._op_stack = None
            self._close(root, True, prev)

    def wrap(self, module, attr: str, name: str, sets_group: bool = True) -> None:
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            span, prev = tracer._open(name, sets_group)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span, sets_group, prev)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    # -- status store ----------------------------------------------------
    def collect_jobs(self, since: float) -> None:
        """Read every job submitted since ``since`` (epoch seconds) from
        the status store, after the listener bus has caught up."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            if not j.submissionTime().isDefined() or not j.completionTime().isDefined():
                continue
            start = j.submissionTime().get().getTime() / 1000
            if start < since:
                continue
            ran = [st for st in map(store.lastStageAttempt, _ints(j.stageIds()))
                   if str(st.status().toString()) != "SKIPPED"]
            self.jobs[j.jobId()] = Job(
                id=j.jobId(),
                group=j.jobGroup().get() if j.jobGroup().isDefined() else None,
                start=start,
                end=j.completionTime().get().getTime() / 1000,
                stages=len(ran),
                tasks=sum(s.numCompleteTasks() for s in ran),
                task_s=sum(s.executorRunTime() for s in ran) / 1000,
                input_bytes=sum(s.inputBytes() for s in ran),
                shuffle_bytes=sum(s.shuffleWriteBytes() for s in ran),
                spill_bytes=sum(s.diskBytesSpilled() for s in ran),
            )
        self._attribute()

    def _attribute(self) -> None:
        for job in self.jobs.values():
            span = None
            if job.group and job.group.startswith(GROUP_PREFIX):
                span = self.spans.get(int(job.group[len(GROUP_PREFIX):]))
            candidates = [span] if span else [
                s for s in self.spans.values() if s.parent is None and s.start <= job.start <= s.end
            ]
            if not candidates:
                continue
            span = candidates[0]
            descended = True
            while descended:
                descended = False
                for cid in span.children:
                    c = self.spans[cid]
                    if c.start <= job.start <= c.end:
                        span, descended = c, True
                        break
            job.span = span.id
            span.jobs.append(job.id)

    # -- derived figures -------------------------------------------------
    def inside_same_name(self, span: Span) -> bool:
        """Whether an ancestor of ``span`` has its name (a recursive or
        delegating call)."""
        p = span.parent
        while p is not None:
            if self.spans[p].name == span.name:
                return True
            p = self.spans[p].parent
        return False

    def subtree_jobs(self, span: Span) -> list[Job]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.extend(self.jobs[j] for j in s.jobs)
            todo.extend(self.spans[c] for c in s.children)
        return out

    def self_time(self, span: Span) -> float:
        covered = [(self.spans[c].start, self.spans[c].end) for c in span.children]
        covered += [(self.jobs[j].start, self.jobs[j].end) for j in span.jobs]
        return (span.end - span.start) - union_length(covered, span.start, span.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans.values():
                f.write(json.dumps({"span": asdict(s)}) + "\n")
            for j in self.jobs.values():
                f.write(json.dumps({"job": asdict(j)}) + "\n")


def _ints(seq) -> list[int]:
    return [seq.apply(i) for i in range(seq.size())]

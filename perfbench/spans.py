"""In-process span tracer for the benchmark's traced runs.

The tracer wraps public functions of the program from the outside (it
replaces module attributes while installed and restores them on exit), so
the program's files stay untouched. A span holds its name, start, end,
parent span, run id, and the Spark job and task counts of its jobs.

Spark evaluates lazily: ``stage_extract`` only builds a plan, and the work
runs inside the ``TableIO.write`` that commits it. A *lazy* span therefore
opens when the wrapped function is called and closes when the table it
produces is written (or when the benchmark calls :meth:`Tracer.close`).
Eager functions (``connected_components`` runs its rounds before it
returns) get ordinary spans.

Jobs are attributed to the innermost open span through the job-group local
property; job and task counts are read from the public
``SparkContext.statusTracker()`` when the spans are summarised.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    jobs: int = 0
    tasks: int = 0
    forced: bool = False   # closed by an enclosing span or at uninstall
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._prefix = f"perfbench-{os.getpid()}-{id(self):x}"
        self.spans: list[Span] = []
        self.bytes: list[tuple[str, str, int]] = []   # (run_id, table, bytes)
        self._stack: list[Span] = []
        self._pending: dict[str, Span] = {}
        self._patches: list[tuple[object, str, object]] = []
        self.run_id = ""

    # -- spans ----------------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, time.perf_counter())
        if parent:
            parent.children.append(s.id)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(_GROUP, f"{self._prefix}-{s.id}")
        return s

    def _finish(self, s: Span) -> None:
        if s not in self._stack:  # already closed by an enclosing span
            return
        now = time.perf_counter()
        # spans above ``s`` are still open only on an error path (a stage
        # raised before its table was written): close them with it
        while True:
            inner = self._stack.pop()
            inner.end = now
            if inner is s:
                break
            inner.forced = True
        top = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty(_GROUP, f"{self._prefix}-{top.id}" if top else None)

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self._finish(s)

    def close(self, key: str) -> None:
        """Close the lazy span waiting on ``key`` (a table name or a span
        name), if one is open."""
        s = self._pending.pop(key, None)
        if s is not None:
            self._finish(s)

    def close_all(self) -> None:
        """Close whatever is still open; every span closed here is marked
        ``forced`` (a lazy span whose table was never written, or an
        eager span left open by an error)."""
        for s in list(self._pending.values()) + self._stack:
            if s.end is None:
                s.forced = True
        self._pending.clear()
        while self._stack:
            self._finish(self._stack[-1])

    # -- patching -------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def eager(self, owner, attr: str, name: str) -> None:
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*a, **kw):
                with self.span(name):
                    return fn(*a, **kw)
            return inner
        self._patch(owner, attr, wrap)

    def lazy(self, owner, attr: str, name: str, closes_on,
             under: str | None = None) -> None:
        """Span from the call until ``closes_on(args, kwargs)`` — the key
        passed to :meth:`close` (usually the table the result is written
        to) — is closed. With ``under``, only calls made while the
        innermost open span has that name are traced (``stage_extract`` is
        a pipeline stage under ``run_pipeline`` but a plain helper inside
        ``score_delta_pages_batch``)."""
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*a, **kw):
                if under is not None and (
                        not self._stack or self._stack[-1].name != under):
                    return fn(*a, **kw)
                s = self.open(name)
                try:
                    out = fn(*a, **kw)
                except BaseException:
                    self._finish(s)
                    raise
                self._pending[closes_on(a, kw)] = s
                return out
            return inner
        self._patch(owner, attr, wrap)

    def table_writes(self, table_io_cls) -> None:
        """Wrap ``TableIO.write``: after the commit, record the table's
        bytes and close the lazy span waiting on it."""
        def wrap(fn):
            @functools.wraps(fn)
            def inner(io, name, df, *a, **kw):
                try:
                    return fn(io, name, df, *a, **kw)
                finally:
                    self.bytes.append((self.run_id, name, dir_bytes(io.path(name))))
                    self.close(name)
            return inner
        self._patch(table_io_cls, "write", wrap)

    def uninstall(self) -> None:
        self.close_all()
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summary --------------------------------------------------------------
    def count_jobs(self) -> None:
        """Fill job and task counts (inclusive of child spans) from the
        status tracker. Call after the traced work has finished."""
        st = self.sc.statusTracker()
        for s in self.spans:
            for j in st.getJobIdsForGroup(f"{self._prefix}-{s.id}"):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.tasks += si.numCompletedTasks
        for s in reversed(self.spans):  # children always follow parents
            if s.parent is not None:
                p = self.spans[s.parent]
                p.jobs += s.jobs
                p.tasks += s.tasks

    def self_time(self, s: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        ivs = sorted((self.spans[c].start, self.spans[c].end or s.end)
                     for c in s.children)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.duration - covered

    def records(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "run_id": s.run_id, "start": s.start, "end": s.end,
                 "self_s": self.self_time(s), "jobs": s.jobs, "tasks": s.tasks,
                 "forced": s.forced}
                for s in self.spans]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total

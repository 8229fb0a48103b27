"""Spans around the engine's public functions, recorded from outside.

``Tracer.install`` replaces each listed function (module function,
method or classmethod) with a wrapper that opens a span for the call.
Every span runs under its own Spark job group, so the Spark jobs,
stages and tasks a call starts are read back from the status tracker
when it ends. Spans nest: a call made inside another call is its
child. A span's job, stage and task counts include its children's; its
self time excludes their time. Spans are kept in memory and written as
JSON lines by ``dump``.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


class Span:
    __slots__ = (
        "sid", "name", "parent", "op", "start", "end", "group",
        "jobs", "stages", "tasks", "child_s", "attrs",
    )

    def __init__(self, sid, name, parent, op, group):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.group = group
        self.start = time.perf_counter()
        self.end = None
        self.jobs = self.stages = self.tasks = 0
        self.child_s = 0.0
        self.attrs: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.child_s

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "op": self.op, "start": self.start, "end": self.end,
            "s": self.seconds, "self_s": self.self_s, "jobs": self.jobs,
            "stages": self.stages, "tasks": self.tasks, **self.attrs,
        }


class Tracer:
    """Records spans on the calling thread; one instance per run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self._next = 0
        self._paused = 0

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str):
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self._next, name, parent.sid if parent else None,
            parent.op if parent else self._next, f"perfbench-{self._next}",
        )
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name, False)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(sp)
            if parent is not None:
                parent.child_s += sp.seconds
                parent.jobs += sp.jobs
                parent.stages += sp.stages
                parent.tasks += sp.tasks
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def _count_jobs(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(sp.group):
            sp.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks

    @contextmanager
    def paused(self):
        """Calls made inside record no spans (the benchmark's own
        bookkeeping reads)."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # ---------------------------------------------------------- patches

    def install(self, owner, attr: str, name: str, on_call=None) -> None:
        """Trace ``owner.attr`` under span ``name``. ``on_call(span,
        args, kwargs, result)`` may attach attributes to the span; it runs
        after the span ends, with tracing paused."""
        raw = (owner.__dict__[attr] if isinstance(owner, type)
               else getattr(owner, attr))
        fn = raw.__func__ if isinstance(raw, classmethod) else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._paused:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if on_call is not None:
                with self.paused():
                    on_call(sp, args, kwargs, out)
            return out

        if isinstance(raw, classmethod):
            traced = classmethod(traced)
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, raw))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # ---------------------------------------------------------- results

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.as_dict()) + "\n")

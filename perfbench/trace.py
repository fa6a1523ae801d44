"""In-memory span and counter recorder for the traced benchmark run.

A span is (name, start, end, parent, job): spans opened on one thread nest
through a thread-local stack; a span opened on a thread with no open span
(the Engine's worker thread, say) is parented to the root span of its job,
so one job's spans form one tree across threads.  A span or count given
no job takes it from ``current_job`` (the benchmark reads the Spark job
group the Engine sets on its worker thread).  Counters are recorded at
the same boundaries, keyed by (name, job).  Nothing is written until
:meth:`Tracer.dump` runs at exit.

With ``enabled=False`` every call is a no-op, so the untraced run pays
only a method call per boundary.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    job: str | None


class Tracer:
    def __init__(self, enabled: bool,
                 current_job: Callable[[], str | None] = lambda: None):
        self.enabled = enabled
        self.current_job = current_job
        self.spans: list[Span] = []
        self.counts: dict[tuple[str, str | None], float] = defaultdict(float)
        self._roots: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, job: str | None = None, root: bool = False):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        if stack:
            parent, inherited = stack[-1]
            job = job or inherited
        else:
            job = job or self.current_job()
            parent = None if root else self._roots.get(job or "")
        sid = next(self._ids)
        if root and job:
            self._roots[job] = sid
        stack.append((sid, job))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, job))

    def count(self, name: str, value: float, job: str | None = None) -> None:
        if self.enabled:
            job = job or self.current_job()
            with self._lock:
                self.counts[(name, job)] += value

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it covered by its children
        (children clipped to the parent, overlaps merged)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            iv = sorted((max(c.start, s.start), min(c.end, s.end))
                        for c in children.get(s.id, ()))
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in iv:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = (s.end - s.start) - covered
        return out

    def per_job(self, name: str) -> dict[str | None, float]:
        """Summed duration of the spans called ``name``, per job."""
        out: dict[str | None, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name:
                out[s.job] += s.end - s.start
        return dict(out)

    def counts_per_job(self, name: str) -> dict[str | None, float]:
        return {job: v for (n, job), v in self.counts.items() if n == name}

    def dump(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": st[s.id]}) + "\n")
            for (name, job), v in sorted(self.counts.items(),
                                         key=lambda kv: (kv[0][0], kv[0][1] or "")):
                fh.write(json.dumps({"count": name, "job": job, "value": v}) + "\n")

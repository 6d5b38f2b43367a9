"""Span recorder that wraps the package's public callables from outside.

No tracing lives inside the package: `Recorder.wrap` swaps a module or
class attribute for a wrapper that records a span around the call, and
`Recorder.restore` puts the original back. Spans are kept in memory and
written once, at the end of the run.

A span records name, start, end and parent; spans of one request share its
request id. Only calls made inside `Recorder.request` on the same thread are
recorded; elsewhere the wrappers pass straight through, which is how a
traced run interleaves traced and untraced requests to measure its own
overhead. A request may continue on another thread (the HTTP server's
handler thread): opening `request` again with the same id parents the new
root under the first one.

Kernels that return a lazy DataFrame (phrase and span matching) are wrapped
with ``lazy=True``: their plan runs when the caller collects it, so their
span ends when the enclosing span ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    request_id: str
    lazy_children: list = field(default_factory=list, repr=False)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: dict[str, int] = {}
        self._patches: list[tuple[object, str, object]] = []
        # request ids a traced run records; the others pass through
        self.traced_ids: set[str] = set()

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span] | None:
        return getattr(self._local, "stack", None)

    def _open(self, name: str, request_id: str, parent: int | None) -> Span:
        span = Span(name, time.perf_counter(), 0.0, next(self._ids), parent,
                    request_id)
        with self._lock:
            self.spans.append(span)
        return span

    @staticmethod
    def _close(span: Span) -> None:
        span.end = time.perf_counter()
        for child in span.lazy_children:
            child.end = span.end
        span.lazy_children.clear()

    @contextmanager
    def request(self, request_id: str, name: str):
        """Open the root span of ``request_id`` on this thread; wrapped
        calls inside it are recorded as its descendants."""
        with self._lock:
            parent = self._roots.get(request_id)
        span = self._open(name, request_id, parent)
        with self._lock:
            self._roots.setdefault(request_id, span.span_id)
        outer = self._stack()
        self._local.stack = [span]
        try:
            yield span
        finally:
            self._close(span)
            self._local.stack = outer

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if not stack:
            yield None
            return
        top = stack[-1]
        span = self._open(name, top.request_id, top.span_id)
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            self._close(span)

    # -- wrapping ---------------------------------------------------------
    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` with ``new`` until `restore`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str, lazy: bool = False) -> None:
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            stack = rec._stack()
            if not stack:
                return orig(*args, **kwargs)
            if lazy:
                top = stack[-1]
                span = rec._open(name, top.request_id, top.span_id)
                try:
                    return orig(*args, **kwargs)
                finally:
                    top.lazy_children.append(span)
            with rec.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output -----------------------------------------------------------
    def by_request(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.request_id, []).append(s)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d.pop("lazy_children")
                f.write(json.dumps(d) + "\n")


class JobGroups:
    """Tags the Spark jobs of a traced request with its id, then counts them
    through the status tracker after the run."""

    def __init__(self, sc):
        self.sc = sc

    @contextmanager
    def tag(self, request_id: str):
        self.sc.setJobGroup(request_id, request_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, request_id: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) run under ``request_id``. Stages skipped
        because their shuffle output was reused have no info and are not
        counted."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(request_id):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
        return jobs, stages, tasks

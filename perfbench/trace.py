"""In-memory spans around the engine's public entry points.

A span is (id, parent, request, name, thread, start, end).  Spans are
appended to a list while the workload runs and written out once at the
end; nothing is written while timing.  Wrapping a function replaces the
attribute on its owner (module or class) and is undone by `unwrap_all`.
A wrapped function that calls itself (``_jsonable`` recursing into a
stack level, a points() inside checkpoint()) only opens one span per
name per thread at a time.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    # ---- spans -------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def request(self, request_id):
        """Tag every span opened on this thread with `request_id`."""
        prev = getattr(self._tls, "request", None)
        self._tls.request = request_id
        try:
            yield
        finally:
            self._tls.request = prev

    @contextlib.contextmanager
    def span(self, name: str):
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1][0] if st else None
        st.append((sid, name))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            rec = (sid, parent, getattr(self._tls, "request", None), name,
                   threading.get_ident(), t0, t1)
            with self._lock:
                self.spans.append(rec)

    def active(self, name: str) -> bool:
        return any(n == name for _, n in self._stack())

    # ---- wrapping ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str, request_of=None) -> None:
        """Open span `name` around every call of ``owner.attr``.
        `request_of(args)` may return a request id to tag the call with."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            if self.active(name):
                return orig(*a, **k)
            if request_of is not None:
                with self.request(request_of(a)), self.span(name):
                    return orig(*a, **k)
            with self.span(name):
                return orig(*a, **k)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- summaries ---------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s[6] - s[5] for s in self.spans if s[3] == name]

    def by_request(self, name: str) -> dict:
        """request id → total seconds of `name` spans tagged with it."""
        out: dict = {}
        for s in self.spans:
            if s[3] == name and s[2] is not None:
                out[s[2]] = out.get(s[2], 0.0) + s[6] - s[5]
        return out

    def self_times(self) -> dict:
        """name → summed self time (duration minus direct children)."""
        child: dict = {}
        for s in self.spans:
            if s[1] is not None:
                child[s[1]] = child.get(s[1], 0.0) + s[6] - s[5]
        out: dict = {}
        for s in self.spans:
            out[s[3]] = out.get(s[3], 0.0) + (s[6] - s[5]) - child.get(s[0], 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s[5] for s in self.spans), default=0.0)
        doc = dict(extra)
        doc["self_time_s"] = self.self_times()
        doc["spans"] = [
            {"id": s[0], "parent": s[1], "request": s[2], "name": s[3], "thread": s[4],
             "start_s": round(s[5] - t0, 6), "end_s": round(s[6] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(doc, f)

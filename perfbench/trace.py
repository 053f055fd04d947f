"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent, thread), timed with
``time.monotonic`` like every other clock in the benchmark. Spans are opened around
the benchmark's own calls into the package and, for calls made inside
``run_pipeline``, by wrappers installed on the package's public module
attributes for the length of the run (the package itself is not edited).
Spans stay in memory and are written out once, when the run ends.

``NullTracer`` is what untraced runs use: no wrappers, no spans.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def wrap(self, owner, attr: str, name: str | None = None, before=None) -> None:
        pass

    def wrap_counted(self, owner, attr: str, name: str) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[tuple[int, str, float, float, int | None, int]] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            stack.pop()
            rec = (sid, name, t0, t1, parent, threading.get_ident())
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str | None = None, before=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``restore``;
        ``before``, if given, sees each call's arguments first."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(label):
                return orig(*args, **kwargs)

        # staticmethod-free: the wrapped attributes are module functions
        # and plain instance methods, both of which a function replaces
        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def wrap_counted(self, owner, attr: str, name: str) -> None:
        """Count calls to ``owner.attr`` under ``name``, without a span:
        for per-event calls, where a span each would cost more than the
        call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            self.count(name)
            return orig(*args, **kwargs)

        setattr(owner, attr, counted)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- analysis ----------------------------------------------------------
    def durations_ms(self, name: str, t0: float = float("-inf"),
                     t1: float = float("inf")) -> list[float]:
        """Durations of the ``name`` spans that started within [t0, t1]."""
        return [(e - s) * 1e3 for _, n, s, e, _, _ in self.spans
                if n == name and t0 <= s <= t1]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, s, e, parent, thread in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start": s, "end": e,
                    "parent": parent, "thread": thread,
                }) + "\n")
            f.write(json.dumps({"counts": self.counts}) + "\n")

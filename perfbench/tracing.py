"""In-memory spans and per-call timers for traced benchmark runs.

Spans (id, name, start, end, parent, sid) are kept in a list and written
once at exit; high-frequency calls (frame encode, registry lookups) only
feed a `Timer` (call count, total and per-call samples) so tracing stays
cheap. A `Tracer` exists only in traced runs: untraced runs construct none
and install no wrapper, which is the single trace gate. Every wrapper is
installed from the benchmark's own files; the package under test carries
no instrumentation.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

MAX_SAMPLES = 100_000


class Timer:
    """Call count, total seconds and the first MAX_SAMPLES durations."""

    __slots__ = ("count", "total", "samples", "_lock")

    def __init__(self) -> None:
        self.count = 0
        self.total = 0.0
        self.samples: list[float] = []
        self._lock = threading.Lock()

    def add(self, seconds: float) -> None:
        with self._lock:
            self.count += 1
            self.total += seconds
            if len(self.samples) < MAX_SAMPLES:
                self.samples.append(seconds)

    def export(self) -> dict:
        with self._lock:
            return {"count": self.count, "total": self.total, "samples": list(self.samples)}


class Tracer:
    """Collects spans, timers and counters from any thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.timers: dict[str, Timer] = {}
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans -------------------------------------------------------------
    def span(self, name: str, sid: str | None = None) -> "_Span":
        """Context manager; spans opened inside it on the same thread take
        it as their parent and inherit its sid."""
        return _Span(self, name, sid)

    def record(self, name: str, start: float, end: float, sid: str | None = None) -> None:
        """A finished span whose parent is the thread's open span, if any."""
        parent = getattr(self._local, "current", None)
        if sid is None and parent is not None:
            sid = parent.sid
        with self._lock:
            self.spans.append(
                {"id": next(self._ids), "name": name, "start": start, "end": end,
                 "parent": parent.id if parent is not None else None, "sid": sid}
            )

    # -- timers / counters -------------------------------------------------
    def timer(self, name: str) -> Timer:
        with self._lock:
            return self.timers.setdefault(name, Timer())

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def wrap(self, fn, name: str, span: bool = False):
        """`fn` timed into `timer(name)`, and recorded as a span when `span`."""
        timer = self.timer(name)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                timer.add(t1 - t0)
                if span:
                    tracer.record(name, t0, t1)

        return wrapped

    def export(self) -> dict:
        with self._lock:
            spans = list(self.spans)
            timers = dict(self.timers)
            counters = dict(self.counters)
        return {
            "spans": spans,
            "timers": {k: t.export() for k, t in timers.items()},
            "counters": counters,
        }


class _Span:
    def __init__(self, tracer: Tracer, name: str, sid: str | None) -> None:
        self.tracer, self.name, self.sid = tracer, name, sid
        self.id = next(tracer._ids)

    def __enter__(self) -> "_Span":
        local = self.tracer._local
        self.parent = getattr(local, "current", None)
        if self.sid is None and self.parent is not None:
            self.sid = self.parent.sid
        local.current = self
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> bool:
        end = time.perf_counter()
        self.tracer._local.current = self.parent
        with self.tracer._lock:
            self.tracer.spans.append(
                {"id": self.id, "name": self.name, "start": self.start, "end": end,
                 "parent": self.parent.id if self.parent is not None else None,
                 "sid": self.sid}
            )
        return False


def wrapper_cost_s(n: int = 20_000) -> float:
    """Seconds one `Tracer.wrap` adds to a call, measured on a no-op
    (best of three); multiplied by the wrapped-call count it estimates the
    time the wrappers themselves added to a traced run."""

    def noop():
        return None

    wrapped = Tracer().wrap(noop, "probe")
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        t1 = time.perf_counter()
        for _ in range(n):
            wrapped()
        t2 = time.perf_counter()
        best = min(best, ((t2 - t1) - (t1 - t0)) / n)
    return max(best, 0.0)

"""Measurement primitives shared by the workloads: the percentile rule,
an open-loop schedule, failure accounting, and in-memory spans.

Nothing here imports Spark, so the rules can be tested on their own.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

INF = float("inf")

#: percentiles tried from the highest down by :func:`tail_percentile`
LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples
    (the epsilon keeps 99.9% of 10000 at 9990, not 9991)."""
    return max(1, math.ceil(q * n / 100.0 - 1e-9))


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100). A failed op enters the
    sample as +inf, so it misses every limit."""
    if not samples:
        raise ValueError("percentile of no samples")
    return sorted(samples)[_rank(q, len(samples)) - 1]


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of :data:`LADDER` with at least
    ``min_beyond`` samples strictly beyond its rank, as ``(q, value)``.
    With 100 samples that is p90; with fewer than 20 it is the median."""
    n = len(samples)
    for q in LADDER:
        if n - _rank(q, n) >= min_beyond:
            return q, percentile(samples, q)
    return 50.0, percentile(samples, 50.0)


def median(samples: list[float]) -> float:
    s = sorted(samples)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) spent so far by process ``root``
    (this one by default) and its live descendants, each with the
    children it has reaped: the Python driver, the Spark JVM and its
    Python workers. Time the host gives to other guests (steal) is not
    charged to a process, so this stays steady where wall time drifts
    with the host's load. Reads Linux ``/proc``."""
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listed
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, (ppid, _ticks) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


@dataclass
class Ops:
    """Attempted and failed op counts, with the first few failure
    reasons. Thread-safe: writers and followers record into one
    instance."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    _mu: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def ok(self) -> None:
        with self._mu:
            self.attempted += 1

    def fail(self, why: str) -> None:
        with self._mu:
            self.attempted += 1
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why)

    def check(self, cond: bool, why: str) -> bool:
        """A correctness gate is one op: a mismatch counts as failed."""
        if cond:
            self.ok()
        else:
            self.fail(why)
        return cond


class OpenLoop:
    """Fixed send schedule: op ``i`` is due at ``t0 + i / rate``,
    whatever happened to earlier ops. Latency is measured from the due
    time, so a stall also charges the ops queued behind it; how late
    the sender ran is recorded separately as generator lateness."""

    def __init__(self, rate_per_s: float, n_ops: int, t0: float | None = None):
        if rate_per_s <= 0:
            raise ValueError("rate must be positive")
        self.rate = rate_per_s
        self.n_ops = n_ops
        self.t0 = time.perf_counter() if t0 is None else t0

    def due(self, i: int) -> float:
        return self.t0 + i / self.rate

    def wait_until_due(self, i: int, now=time.perf_counter, sleep=time.sleep) -> float:
        """Sleep until op ``i`` is due; returns how late (s) the sender
        is when it gets to send it (0 when on time)."""
        d = self.due(i)
        gap = d - now()
        if gap > 0:
            sleep(gap)
            return 0.0
        return -gap


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    sid: int


class Tracer:
    """In-memory spans: name, start, end, parent span and op id. A
    thread keeps its own stack of open spans; a span opened with an
    empty stack starts a new op. Disabled tracers record nothing, so
    the untraced run pays one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._tls = threading.local()
        self._mu = threading.Lock()
        self._next = 0

    def _stack(self) -> list[tuple[int, int]]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._mu:
                self.counts[name] = self.counts.get(name, 0) + n

    def begin(self, name: str) -> tuple | None:
        if not self.enabled:
            return None
        st = self._stack()
        with self._mu:
            sid = self._next
            self._next += 1
        parent, op = (st[-1][0], st[-1][1]) if st else (None, sid)
        st.append((sid, op))
        return (name, time.perf_counter(), parent, op, sid)

    def end(self, tok: tuple | None) -> None:
        if tok is None:
            return
        t1 = time.perf_counter()
        self._stack().pop()
        name, t0, parent, op, sid = tok
        with self._mu:
            self.spans.append(Span(name, t0, t1, parent, op, sid))

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span ``name``."""

        def traced(*a, **kw):
            tok = self.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(tok)

        traced.__wrapped__ = fn
        return traced

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its direct children
    cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            kids.setdefault(p.sid, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []))
        for s in spans
    }

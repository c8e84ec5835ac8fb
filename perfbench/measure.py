"""Measurement helpers: statistics, order-independent digests, spans
with self time, a /proc memory sampler and the run stamp.

Nothing here imports Spark, so the helpers are unit-tested on their own.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    values = [float(v) for v in values]
    if not values:
        return 0.0
    if min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def row_digest(rows) -> str:
    """Order-independent digest of an iterable of tuples: the sum, modulo
    2^64, of a hash of each row's ``repr``. Equal multisets of rows give
    equal digests whatever order Spark returns them in."""
    total = 0
    for row in rows:
        h = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
    return f"{total:016x}"


# --- spans -------------------------------------------------------------------

@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans) -> float:
    """The span's duration minus the part of it its child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.span_id]
    return span.duration - covered(kids, span.start, span.end)


class Tracer:
    """Keeps spans in memory; they are written out when the run ends.
    Spans of one operation share ``op_id``; ``parent`` links a span to
    the span that was open when it started."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, op_id: str | None = None, **attrs):
        return _SpanCtx(self, name, op_id, attrs)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.span_id, "name": s.name, "op": s.op_id, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": self_time(s, self.spans), **s.attrs}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: str | None, attrs: dict):
        self.tracer, self.name, self.op_id, self.attrs = tracer, name, op_id, attrs

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        op_id = self.op_id or (parent.op_id if parent else "")
        s = Span(len(t.spans), self.name, op_id, parent.span_id if parent else None,
                 time.perf_counter(), attrs=dict(self.attrs))
        t.spans.append(s)
        t._stack.append(s)
        return s

    def __exit__(self, *exc):
        s = self.tracer._stack.pop()
        s.end = time.perf_counter()
        return False


class TracedModule:
    """Stand-in for a program module: every public function called
    through it is recorded as a span ``call:<layer>.<function>``."""

    def __init__(self, module, layer: str, tracer: Tracer):
        self._module, self._layer, self._tracer = module, layer, tracer

    def __getattr__(self, name):
        attr = getattr(self._module, name)
        if name.startswith("_") or not callable(attr):
            return attr
        tracer, label = self._tracer, f"call:{self._layer}.{name}"

        def wrapped(*args, **kwargs):
            with tracer.span(label, layer=self._layer):
                return attr(*args, **kwargs)

        return wrapped


# --- memory ------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def children(pid: int) -> list[int]:
    kids = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
        except OSError:
            pass
    return kids


def descendants(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        for k in children(todo.pop()):
            out.append(k)
            todo.append(k)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background thread summing resident memory over this process and
    its descendants every ``interval`` seconds while ``active``. Keeps
    the peak of the sum, of the JVM and of the Python workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.active = False
        self.peak_total = self.peak_jvm = self.peak_py = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self):
        self._thread.start()
        return self

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self):
        me = os.getpid()
        total, jvm, py = _rss_bytes(me), 0, 0
        for pid in descendants(me):
            rss = _rss_bytes(pid)
            total += rss
            name = _comm(pid)
            if name == "java":
                jvm += rss
            elif name.startswith("python"):
                py += rss
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_py = max(self.peak_py, py)
        self.samples += 1

    def _loop(self):
        while not self._stop.wait(self.interval):
            if self.active:
                self.sample()


# --- run stamp ---------------------------------------------------------------

def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(v) for v in f.read().split()[:3]]
    except OSError:
        return []


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings; a noisy-neighbour stamp for the run."""
    if len(start) < 8 or len(end) < 8:
        return 0.0
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _cpu_ticks_of(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(v) for v in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def _jit_ticks_of(pid: int) -> int:
    """utime + stime of the process's JIT compiler threads (JVM only)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """CPU seconds spent so far by a process and all its descendants
    (driver, JVM, Python daemon and workers), and the part of it spent
    by JIT compiler threads."""
    root = os.getpid() if root is None else root
    pids = (root, *descendants(root))
    return (sum(_cpu_ticks_of(p) for p in pids) / _TCK, sum(_jit_ticks_of(p) for p in pids) / _TCK)


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1

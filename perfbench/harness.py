"""Measurement helpers: percentiles with sample-count rules, the open-loop
tick scheduler, an in-memory span tracer and peak-RSS readings."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

# a percentile is reported only with at least this many samples beyond it
MIN_TAIL = 10
# the tail quantiles a summary may report, highest first
TAIL_QUANTILES = (0.999, 0.99, 0.95, 0.9)


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` quantile of ``n``."""
    return n - math.ceil(q * n)


def percentile(samples, q: float) -> float:
    """Nearest-rank ``q`` quantile (0 < q <= 1). Raises ValueError when
    fewer than MIN_TAIL samples lie beyond it (the median is exempt:
    half the samples always lie beyond it)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    if q > 0.5 and samples_beyond(len(xs), q) < MIN_TAIL:
        raise ValueError(
            f"p{q * 100:g} needs {MIN_TAIL} samples beyond it; have {len(xs)} samples"
        )
    return xs[max(math.ceil(q * len(xs)) - 1, 0)]


def highest_supported(n: int) -> float:
    """The highest of TAIL_QUANTILES that ``n`` samples support, else
    the median."""
    for q in TAIL_QUANTILES:
        if samples_beyond(n, q) >= MIN_TAIL:
            return q
    return 0.5


def summarize(samples) -> dict:
    """Median, the highest supported tail percentile, and the count."""
    n = len(samples)
    q = highest_supported(n)
    return {"n": n, "p50": percentile(samples, 0.5), f"p{q * 100:g}": percentile(samples, q)}


def median(xs) -> float:
    return statistics.median(xs)


class TickScheduler:
    """Open-loop ticks: tick ``i`` is due at ``t0 + i * interval``. The
    scheduler sleeps until a tick is due and never waits for anything
    else, so a stalled consumer makes the backlog grow rather than
    slowing the offered load. A tick that starts late is run at once
    and its lateness recorded."""

    def __init__(self, interval_s: float, clock=time.monotonic, sleep=time.sleep):
        self.interval = interval_s
        self.clock = clock
        self.sleep = sleep
        self.lateness: list[float] = []

    def run(self, on_tick, t0: float, n_ticks: int) -> None:
        """Call ``on_tick(i, due)`` for ticks 0..n_ticks-1."""
        for i in range(n_ticks):
            due = t0 + i * self.interval
            wait = due - self.clock()
            if wait > 0:
                self.sleep(wait)
            self.lateness.append(max(0.0, self.clock() - due))
            on_tick(i, due)


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out
    once, when the run ends. Disabled tracers cost one branch per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def cpu_times() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat: jiffies per CPU state."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_times` readings that the
    hypervisor gave to other guests (the ``steal`` state). Other guests
    slow every phase of a run alike, so a run's figures read with it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc (MB)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")

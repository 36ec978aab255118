"""Spans and the summary statistics the benchmark reports.

Spans are recorded from the benchmark's own files, around its calls into
each layer of the package; nothing inside the package is instrumented.
With tracing off every call is a no-op apart from the ``with`` statement.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span store. A span has a name, start, end, the id of the
    span open on the same thread when it began (its cause), and a trace id
    shared by the spans of one operation: its root span's id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": parent["trace"] if parent else sid, "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median_s(self, name: str) -> float:
        d = self.durations(name)
        return median(d) if d else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(values: list[float]) -> float:
    return percentile(values, 50)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_for_tail(q: float) -> int:
    """Fewest samples that leave at least ten beyond percentile ``q``."""
    return math.ceil(10 / (1 - q / 100.0) - 1e-9)


class ProcStat:
    """System-wide CPU busy and steal shares between two /proc/stat reads."""

    def __init__(self):
        self.t0 = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def shares(self) -> tuple[float, float]:
        d = [b - a for a, b in zip(self.t0, self._read())]
        total = sum(d[:8]) or 1  # user nice system idle iowait irq softirq steal
        idle = d[3] + d[4]
        return (total - idle) / total, d[7] / total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, in MB (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


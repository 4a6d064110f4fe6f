"""Spans around the calls into each layer, recorded from the benchmark.

``Tracer.wrap`` replaces a public function or method of the program with
a wrapper that records a span (name, start, end, attributes) and
``Tracer.restore`` puts the original back. Spans stay in memory until
the run ends. A span joins the micro-batch (or query) whose time window
holds its start, so spans made on pool threads still join their batch.

``spark_event_totals`` reads the uncompressed Spark event log of the
traced session and attributes jobs, tasks, shuffle writes and spills to
the operation whose time window saw the job submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``. ``before(args, kwargs)`` runs ahead of the call
        and its value is handed to ``after(state, args, kwargs, result)``,
        whose dict return value becomes the span's attributes."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            state = before(args, kwargs) if before else None
            start = time.time()
            try:
                result = original(*args, **kwargs)
            finally:
                end = time.time()
            attrs = after(state, args, kwargs, result) if after else {}
            tracer.add(Span(name, start, end, attrs or {}))
            return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def spark_event_totals(event_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs, tasks, shuffle bytes written and bytes spilled for the jobs
    submitted inside any of ``windows`` (epoch seconds), read from the
    plain-JSON event log(s) under ``event_dir``."""
    stage_job: dict[int, int] = {}
    counted: set[int] = set()
    tasks = shuffle_bytes = spill_bytes = 0
    for path in sorted(glob.glob(f"{event_dir}/*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"] / 1000.0
                    if any(lo <= t <= hi for lo, hi in windows):
                        counted.add(ev["Job ID"])
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    if stage_job.get(ev.get("Stage ID")) not in counted:
                        continue
                    tasks += 1
                    m = ev.get("Task Metrics") or {}
                    shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {
        "jobs": len(counted),
        "tasks": tasks,
        "shuffle_write_mb": shuffle_bytes / 2**20,
        "spill_mb": spill_bytes / 2**20,
    }

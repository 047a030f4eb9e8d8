"""Spans recorded around the benchmark's calls into the engine, and
Spark event-log counters folded into those spans by time window.

Every span has a name, a start, an end and the span it ran inside;
times are wall-clock epoch seconds so they line up with the event
log's millisecond timestamps. Spans stay in memory until the run
writes them out.

Jobs, stages and tasks are attributed to the innermost span whose
interval contains the job's submission, the stage's submission or the
task's launch. A Spark job group would miss work submitted from the
engine's own thread pools and streaming query threads, and the
status tracker forgets all but the last ``spark.ui.retainedJobs``
jobs; the event log has every one.
"""

from __future__ import annotations

import bisect
import json
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "sched_delay_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans from one thread of benchmark code."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._open[-1] if self._open else None,
            start=time.time(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def write(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = s.duration - covered
    return out


def read_event_log(paths: Iterable[Path]) -> Iterator[dict]:
    """The job, stage and task events of one or more Spark event logs
    (uncompressed JSON lines, one file per application)."""
    wanted = ("SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd")
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if any(w in line[:60] for w in wanted):
                    yield json.loads(line)


def _event_point(ev: dict) -> tuple[float | None, dict]:
    """(epoch seconds the event is attributed at, counter increments)."""
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        return ev.get("Submission Time", 0) / 1000, {"jobs": 1}
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        t = info.get("Submission Time")
        return (None if t is None else t / 1000), {"stages": 1}
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    busy = (
        run + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0)
    )
    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
    return info["Launch Time"] / 1000, {
        "tasks": 1,
        "run_ms": run,
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "sched_delay_ms": max(0, info["Finish Time"] - info["Launch Time"] - busy),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def innermost(spans: list[Span], t: float, _starts: list[float] | None = None) -> Span | None:
    """The innermost span whose [start, end] contains t. Spans are
    properly nested (one thread), so it is the latest-starting span
    that contains t."""
    starts = _starts if _starts is not None else [s.start for s in spans]
    i = bisect.bisect_right(starts, t) - 1
    while i >= 0:
        if spans[i].end >= t:
            return spans[i]
        i -= 1
    return None


def fold_events(spans: list[Span], events: Iterable[dict]) -> dict[int, dict[str, float]]:
    """Counters per span id, each event charged to its innermost span
    only; events outside every span are charged to id -1."""
    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    out: dict[int, dict[str, float]] = {}
    for ev in events:
        t, inc = _event_point(ev)
        if t is None:
            continue
        s = innermost(ordered, t, starts)
        acc = out.setdefault(-1 if s is None else s.id, dict.fromkeys(COUNTERS, 0))
        for k, v in inc.items():
            acc[k] += v
    return out


def subtree_totals(spans: list[Span], own: dict[int, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Counters per span including every descendant's."""
    total = {s.id: dict(own.get(s.id) or dict.fromkeys(COUNTERS, 0)) for s in spans}
    # children always have larger ids than their parents (ids follow
    # opening order), so one reverse sweep pushes every total upward
    for s in sorted(spans, key=lambda s: s.id, reverse=True):
        if s.parent is not None:
            up = total[s.parent]
            for k, v in total[s.id].items():
                up[k] += v
    return total

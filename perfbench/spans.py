"""Spans around calls into the program, attributed to Spark work.

A span is opened in the benchmark's own code around a public call. While it
is open, every Spark job the driver thread submits carries the span's job
group (``spark.jobGroup.id``), so the Spark event log written during the
run can be parsed afterwards to give each span its jobs, stages, shuffle
and spill. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-"
COUNTS = ("spark_jobs", "spark_stages", "shuffle_write_bytes", "spill_bytes", "output_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int  # closed-loop step the span ran in; -1 = set-up
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTS, 0))


class Tracer:
    """Records spans; with ``sc=None`` every span is a no-op (tracing off)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[Span] = []

    @property
    def on(self) -> bool:
        return self.sc is not None

    def inside(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.iteration, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.id}")
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", f"{GROUP_PREFIX}{parent.id}" if parent else None
            )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def attribute_event_log(lines, spans: list[Span]) -> int:
    """Add each job and completed stage in the event log ``lines`` to the
    span whose job group submitted it. Returns the number of jobs that ran
    outside any span."""
    by_group = {f"{GROUP_PREFIX}{s.id}": s for s in spans}
    stage_span: dict[int, Span] = {}
    outside = 0
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            s = by_group.get((e.get("Properties") or {}).get("spark.jobGroup.id"))
            if s is None:
                outside += 1
            else:
                s.counts["spark_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            s = by_group.get((e.get("Properties") or {}).get("spark.jobGroup.id"))
            if s is not None:
                stage_span[e["Stage Info"]["Stage ID"]] = s
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage_span.get(info["Stage ID"])
            if s is None:
                continue
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            s.counts["spark_stages"] += 1
            s.counts["shuffle_write_bytes"] += int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0))
            s.counts["spill_bytes"] += int(acc.get("internal.metrics.diskBytesSpilled", 0))
            s.counts["output_bytes"] += int(acc.get("internal.metrics.output.bytesWritten", 0))
    return outside


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of the span's interval its children cover."""
    covered, cursor = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, cursor), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return (span.end - span.start) - covered


def summarize(spans: list[Span], iterations: int) -> dict[str, dict[str, float]]:
    """Per span name: ``total_s``, ``self_s`` and each count in ``COUNTS``
    (counts include those of descendant spans). Spans of the timed
    iterations are summed and divided by ``iterations``; spans opened after
    them (negative iteration other than -1) are once-per-run calls, reported
    per call; set-up spans (iteration -1) are left out."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def inclusive(s: Span) -> dict:
        out = dict(s.counts)
        for c in children[s.id]:
            for k, v in inclusive(c).items():
                out[k] += v
        return out

    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(("total_s", "self_s", *COUNTS), 0.0))
    for s in spans:
        if s.iteration == -1:
            continue
        n = max(iterations, 1) if s.iteration >= 0 else 1
        row = out[s.name]
        row["total_s"] += (s.end - s.start) / n
        row["self_s"] += self_time(s, children[s.id]) / n
        for k, v in inclusive(s).items():
            row[k] += v / n
    return out

"""Spans around calls into each layer, and their join with the Spark
event log.

A span records name, start, end, its parent and the run it belongs to.
Spans are kept in memory and written out when the run ends. In a traced
run every span also becomes the Spark job group of the thread that
opens it, so each job in the event log names the span that launched it;
jobs whose group is no span's id (for example jobs submitted from the
package's own helper threads) are counted as unattributed.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: str
    parent: str | None
    run_id: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark_context`` set (traced runs) it also
    sets the job group for the duration of each span."""

    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}.{len(self.spans)}", parent and parent.span_id,
                 self.run_id, name, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.span_id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float, parent: str | None = None,
            span_id: str | None = None, **attrs) -> Span:
        """Record a span observed rather than opened here (a streaming
        micro-batch reported by the query listener)."""
        s = Span(span_id or f"{self.run_id}.{len(self.spans)}", parent,
                 self.run_id, name, start, end, dict(attrs))
        self.spans.append(s)
        return s

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --- interval arithmetic -------------------------------------------------


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
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


def self_time(span: Span, children: list[Span]) -> float:
    """Span wall time minus the part of it its child spans cover."""
    return span.wall - union_length([(c.start, c.end) for c in children],
                                     span.start, span.end)


def driver_gap(span: Span, job_intervals) -> float:
    """Span wall time minus the union of the Spark job intervals
    attributed to it: time the driver spent outside any job."""
    return span.wall - union_length(job_intervals, span.start, span.end)


# --- Spark event log ------------------------------------------------------

_BATCH_RE = re.compile(r"runId = (\S+)\s+batch = (\d+)")


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    start: float
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def stream_batch(self) -> tuple[str, int] | None:
        """``(runId, batchId)`` for a job run inside a streaming
        micro-batch, from the description Spark gives such jobs."""
        m = _BATCH_RE.search(self.description or "")
        return (m.group(1), int(m.group(2))) if m else None


def parse_event_log(path: str) -> list[Job]:
    """Jobs of an uncompressed, non-rolling Spark event log, each with
    the tasks, executor run time, shuffle bytes (read + written) and
    spill bytes of the stages that ran under it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                        props.get("spark.job.description"),
                        ev["Submission Time"] / 1000.0)
                jobs[j.job_id] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, j.job_id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if j is None:
                    continue
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                j.stages.add(ev["Stage ID"])
                j.tasks += 1
                j.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                j.shuffle_bytes += (rd.get("Remote Bytes Read", 0)
                                    + rd.get("Local Bytes Read", 0)
                                    + wr.get("Shuffle Bytes Written", 0))
                j.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def span_breakdown(spans: list[Span], jobs: list[Job]) -> tuple[dict, int]:
    """Per span: jobs, stages, tasks, executor time, shuffle and spill
    bytes of the jobs launched under it or under its descendants, plus
    self time and driver gap. A job belongs to the span whose id is its
    job group; a streaming micro-batch job belongs to the span with
    attrs ``run_id``/``batch_id`` matching its description. Returns the
    breakdown by span id and the number of jobs no span claims."""
    by_id = {s.span_id: s for s in spans}
    batch_span = {(s.attrs["run_id"], s.attrs["batch_id"]): s.span_id
                  for s in spans if "batch_id" in s.attrs}
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent in by_id:
            children.setdefault(s.parent, []).append(s)
    own: dict[str, list[Job]] = {}
    unattributed = 0
    for j in jobs:
        sid = j.group if j.group in by_id else batch_span.get(j.stream_batch())
        if sid is None:
            unattributed += 1
        else:
            own.setdefault(sid, []).append(j)

    def subtree_jobs(sid: str) -> list[Job]:
        out = list(own.get(sid, ()))
        for c in children.get(sid, ()):
            out.extend(subtree_jobs(c.span_id))
        return out

    out = {}
    for s in spans:
        js = subtree_jobs(s.span_id)
        out[s.span_id] = {
            "jobs": len(js),
            "stages": sum(len(j.stages) for j in js),
            "tasks": sum(j.tasks for j in js),
            "executor_run_s": sum(j.executor_run_s for j in js),
            "shuffle_bytes": sum(j.shuffle_bytes for j in js),
            "spill_bytes": sum(j.spill_bytes for j in js),
            "self_s": self_time(s, children.get(s.span_id, [])),
            "driver_gap_s": driver_gap(s, [(j.start, j.end) for j in js]),
        }
    return out, unattributed

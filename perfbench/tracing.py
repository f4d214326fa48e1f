"""Spans, Spark job-group tagging, event-log rollup and the small statistics
the benchmark reports.

A span is one call into one public function of the package, recorded from
the benchmark's side of the call. In a traced run each span tags its Spark
jobs with ``setJobGroup(<span id>)`` so the event log's task metrics can be
rolled up per span afterwards; an untraced run records wall times only and
touches no Spark state.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    """Start and end are epoch seconds, comparable with the job submission
    times in Spark's event log."""

    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    stage: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory; with ``spark_context`` set (traced run) it
    also tags every Spark job started inside a span with the span's group."""

    spark_context: object | None = None
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    # the run stage new spans belong to: "setup" or "measure"
    stage: str = "setup"
    _stack: list[int] = field(default_factory=list)

    @property
    def traced(self) -> bool:
        return self.spark_context is not None

    @contextmanager
    def span(self, name: str):
        sp = Span(name, time.time(),
                  parent=self._stack[-1] if self._stack else None,
                  id=len(self.spans), stage=self.stage)
        self.spans.append(sp)
        self._stack.append(sp.id)
        sc = self.spark_context
        if sc is not None:
            sc.setJobGroup(group_id(sp), name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(group_id(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """In a traced run, run ``df`` to completion at the span boundary
        (Spark is lazy, so a span would otherwise time planning only) and
        hand back a checkpointed frame so downstream spans do not redo the
        work. Untraced runs return ``df`` unchanged."""
        if not self.traced:
            return df
        return df.localCheckpoint(eager=True)


def group_id(span: Span) -> str:
    return f"{span.name}#{span.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (children may overlap; their union is subtracted)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for k in sorted(kids.get(sp.id, []), key=lambda s: s.start):
            lo, hi = max(k.start, sp.start), min(k.end, sp.end)
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
        out[sp.id] = sp.wall - covered
    return out


def percentile(samples: list[float], q: float) -> float | None:
    """The q-th percentile (0 < q < 100, nearest-rank), reported only when
    at least ten samples lie strictly above its rank; None otherwise."""
    n = len(samples)
    if n == 0:
        return None
    rank = max(math.ceil(q / 100.0 * n), 1)
    if n - rank < 10:
        return None
    return sorted(samples)[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class JobMetrics:
    """Task-end metrics summed over the tasks of one job (or of a group of
    jobs, after :func:`attribute`)."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0

    def add(self, other: "JobMetrics") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    group: str
    submit_s: float
    metrics: JobMetrics


def parse_event_log(lines) -> dict[int, Job]:
    """Per-job task metrics from an uncompressed Spark event log (``lines``
    iterates its JSON lines)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = Job(props.get("spark.jobGroup.id") or "",
                            ev.get("Submission Time", 0) / 1000.0,
                            JobMetrics(jobs=1))
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            m = jobs[jid].metrics
            m.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success":
                m.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            m.run_ms += tm.get("Executor Run Time", 0)
            m.cpu_ns += tm.get("Executor CPU Time", 0)
            m.gc_ms += tm.get("JVM GC Time", 0)
            m.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            im = tm.get("Input Metrics") or {}
            m.input_bytes += im.get("Bytes Read", 0)
    return jobs


def attribute(jobs: dict[int, Job], spans: list[Span]) -> dict[int, JobMetrics]:
    """Roll jobs up to the span that started them: by job group when the
    job carries one of the spans' groups, else (jobs started from threads
    that do not inherit the group, such as streaming drains) the innermost
    span whose interval holds the job's submission time. A span's total
    includes its children's jobs."""
    by_group = {group_id(sp): sp for sp in spans}
    own: dict[int, JobMetrics] = {sp.id: JobMetrics() for sp in spans}
    for job in jobs.values():
        sp = by_group.get(job.group)
        if sp is None:
            live = [s for s in spans if s.start <= job.submit_s <= s.end]
            if not live:
                continue
            sp = max(live, key=lambda s: s.start)
        own[sp.id].add(job.metrics)
    total = {sid: JobMetrics() for sid in own}
    for sp in spans:
        cur: int | None = sp.id
        while cur is not None:
            total[cur].add(own[sp.id])
            cur = spans[cur].parent
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes, in MiB,
    read from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0

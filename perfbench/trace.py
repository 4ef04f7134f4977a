"""In-memory spans around the benchmark's calls into each module.

A span has a name, start and end (wall seconds), the span that was open when
it began (its parent), an operation id, the process CPU seconds it used, and
the range of Spark job ids submitted while it was open. The driver loop is
single-threaded, so a job belongs to the innermost span open when it was
submitted; job ids come from the DAG scheduler's counter, read at span entry
and exit. Nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

SPARK_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_records",
)


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    j0: int = 0  # first job id submitted inside the span
    j1: int = 0  # one past the last

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """``span(name)`` is a no-op context when tracing is off, so the timed
    code is the same in traced and untraced runs."""

    def __init__(self, enabled: bool, next_job_id=lambda: 0):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        # the id the next submitted Spark job will get; set once a session is up
        self.next_job_id = next_job_id

    def span(self, name: str, op: int | None = None, jobs: bool = True):
        """``jobs=False`` skips the job-counter reads (a py4j round trip
        each) for spans around pure driver code, such as model forwards."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, op, jobs)

    @contextlib.contextmanager
    def _span(self, name: str, op: int | None, jobs: bool):
        s = Span(len(self.spans), name, op,
                 self._open[-1].sid if self._open else None, 0.0)
        self.spans.append(s)
        self._open.append(s)
        if jobs:
            s.j0 = self.next_job_id()
        cpu0 = time.process_time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu_s = time.process_time() - cpu0
            s.j1 = self.next_job_id() if jobs else s.j0
            self._open.pop()


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Total length covered by ``intervals`` (pairs), clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.dur - union_length(children.get(s.sid, ()), s.start, s.end)
        for s in spans
    }


def attribute_jobs(spans: list[Span], job_ids) -> dict[int, int]:
    """Map each job id to the innermost span whose job-id range holds it.
    Jobs submitted outside every span are left out."""
    depth: dict[int, int] = {}
    for s in spans:  # parents are created before their children
        depth[s.sid] = 0 if s.parent is None else depth[s.parent] + 1
    owner: dict[int, int] = {}
    for jid in job_ids:
        best = None
        for s in spans:
            if s.j0 <= jid < s.j1 and (best is None or depth[s.sid] > depth[best.sid]):
                best = s
        if best is not None:
            owner[jid] = best.sid
    return owner


def spark_sum(job_ids, jobs: dict, stages: dict) -> dict:
    """Spark work of a set of jobs: job, stage and task counts and summed
    stage metrics. ``jobs`` maps job id to ``{"submit", "end", "stages"}``
    (seconds on the tracer's clock); ``stages`` maps the id of each stage
    that ran to its metrics. A stage that a later job reuses (skipped
    there) counts once, for the first job that lists it."""
    first_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            first_job.setdefault(sid, jid)
    rec = dict(jobs=0, stages=0, tasks=0, **{f: 0.0 for f in SPARK_FIELDS})
    for jid in job_ids:
        rec["jobs"] += 1
        for sid in jobs[jid]["stages"]:
            if sid in stages and first_job[sid] == jid:
                rec["stages"] += 1
                rec["tasks"] += stages[sid]["tasks"]
                for f in SPARK_FIELDS:
                    rec[f] += stages[sid][f]
    return rec


def jobs_within(span: Span, jobs: dict) -> list[int]:
    """Jobs submitted while ``span`` was open, its child spans included."""
    return [j for j in range(span.j0, span.j1) if j in jobs]


def driver_only_s(span: Span, jobs: dict) -> float:
    """Wall time of ``span`` during which none of its jobs was running."""
    ivs = [(jobs[j]["submit"], jobs[j]["end"]) for j in jobs_within(span, jobs)]
    return span.dur - union_length(ivs, span.start, span.end)

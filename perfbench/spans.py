"""Spans, Spark job attribution and process accounting for the benchmark.

A span is one call into a public function of the engine, timed from
the benchmark's side: name, start, end, parent and run id.  Spans stay
in memory and are written out once, at the end of a run.

When tracing is on, each span also sets a Spark job group named after
its id, so every job the call runs is attributed to it.  After the
traced work, :meth:`Tracer.harvest` reads jobs and stages from the
Spark driver's status store (``SparkContext.statusStore``, a py4j call per
job and stage; the UI stays off) and hands each span its jobs, stages,
tasks, shuffle-write and spill bytes, GC time, max task time and input
rows.  A job whose group is not a span id is attributed by time to the
innermost span that covers its submission.

With tracing off a span is a pair of timestamps and nothing else; the
end-to-end metrics come from such runs.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)     # job records, own + children

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float        # epoch seconds (ms resolution)
    completed: float
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    max_task_ms: float = 0.0
    input_records: int = 0
    scan_stages: int = 0


class Tracer:
    """Closed-loop span recorder: one call in flight at a time."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._harvested_jobs: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block; when tracing, its Spark jobs carry the span's
        job group (the parent's group is restored on exit)."""
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, parent.id if parent else None,
                 time.time(), attrs=dict(attrs))
        self._next += 1
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(f"span-{s.id}", name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.enabled:
                if parent is not None:
                    sc.setJobGroup(f"span-{parent.id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    # -- status store ----------------------------------------------------

    def harvest(self) -> list[Job]:
        """Read every job not yet harvested from the status store and
        attribute it to spans (a job counts for its span and every
        ancestor).  Returns the new jobs."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        q = sc._gateway.new_array(jvm.double, 1)
        q[0] = 1.0
        empty = jvm.java.util.ArrayList()
        jobs: list[Job] = []
        jl = store.jobsList(None)
        for i in range(jl.size()):
            jd = jl.apply(i)
            jid = jd.jobId()
            if jid in self._harvested_jobs:
                continue
            self._harvested_jobs.add(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            grp = jd.jobGroup()
            j = Job(jid, grp.get() if grp.isDefined() else None,
                    sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                    comp.get().getTime() / 1000.0 if comp.isDefined() else 0.0)
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                attempts = store.stageData(sid, False, empty, False, q)
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if str(st.status()) == "SKIPPED":
                        continue
                    j.stages += 1
                    j.tasks += st.numCompleteTasks() + st.numFailedTasks()
                    j.shuffle_write_bytes += st.shuffleWriteBytes()
                    j.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    j.gc_ms += st.jvmGcTime()
                    j.input_records += st.inputRecords()
                    if st.inputRecords() > 0:
                        j.scan_stages += 1
                    summ = store.taskSummary(sid, st.attemptId(), q)
                    if summ.isDefined():
                        d = summ.get().duration()
                        if d.size() > 0:
                            j.max_task_ms = max(j.max_task_ms, float(d.apply(0)))
            jobs.append(j)
        by_id = {s.id: s for s in self.spans}
        for j in jobs:
            owner = None
            if j.group and j.group.startswith("span-"):
                owner = by_id.get(int(j.group[5:]))
            if owner is None:
                owner = self._covering(j.submitted)
            while owner is not None:
                owner.jobs.append(j)
                owner = by_id.get(owner.parent) if owner.parent is not None else None
        return jobs

    def _covering(self, t: float) -> Span | None:
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "run": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "wall_s": s.wall,
                    "self_s": self_time(s, self.spans), "jobs": len(s.jobs),
                    "job_s": job_time(s),
                    "input_records": [j.input_records for j in s.jobs], **s.attrs}) + "\n")


def job_time(span: Span) -> float:
    """Wall time inside ``span`` covered by at least one running job."""
    ivs = sorted((max(j.submitted, span.start), min(j.completed, span.end))
                 for j in span.jobs if j.completed > 0)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def self_time(span: Span, spans: list[Span]) -> float:
    """Span wall minus the part its direct children cover."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, last = 0.0, span.start
    for s, e in kids:
        s = max(s, last)
        if e > s:
            covered += e - s
            last = e
    return span.wall - covered


def runtime_totals(spans: list[Span]) -> dict:
    """Spark runtime totals over the jobs of ``spans`` (top-level spans
    of one traced section; each job counted once)."""
    seen: dict[int, Job] = {}
    for s in spans:
        for j in s.jobs:
            seen[j.id] = j
    jobs = list(seen.values())
    wall = sum(s.wall for s in spans)
    return {
        "jobs": len(jobs),
        "stages": sum(j.stages for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
        "max_task_ms": max((j.max_task_ms for j in jobs), default=0.0),
        "driver_s": wall - sum(job_time(s) for s in spans),
        "gc_s": sum(j.gc_ms for j in jobs) / 1000.0,
    }


def tail(xs: list[float]) -> tuple[float, int]:
    """The value at the highest whole percentile with at least ten
    samples beyond it, and that percentile.  With ten samples or fewer
    no percentile qualifies: the max is returned with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100
    return s[n - 11], 100 * (n - 10) // n


@contextlib.contextmanager
def patched(obj, attr: str, wrapper_factory):
    """Replace ``obj.attr`` with ``wrapper_factory(original)`` for the
    block, then restore it."""
    orig = getattr(obj, attr)
    setattr(obj, attr, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def driver_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python process plus the driver
    JVM it launched, in MB."""
    pids, todo = [os.getpid()], [os.getpid()]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(c) for c in f.read().split()]
        except OSError:
            continue
        todo.extend(kids)
        for k in kids:
            try:
                with open(f"/proc/{k}/comm") as f:
                    if f.read().strip() == "java":
                        pids.append(k)
            except OSError:
                pass
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total_kb / 1024.0

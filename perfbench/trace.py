"""Spans around the benchmark's calls into each package layer.

A span records (name, start, end, parent, run id) in memory; the list
is written out when the benchmark ends. While a span is open its name
is the Spark job group (``SparkContext.setJobGroup``), and when it
closes the jobs it submitted are read back from ``StatusTracker``:
job, stage, task and failed-task counts. A span owns the job ids the
DAG scheduler handed out while it was the innermost open span. Job
ids rather than the group decide ownership because a streaming query
runs its micro-batch jobs under a group of its own; with one client
and one span open at a time the id range is exact.

With tracing off ``span`` is a no-op context manager: no job group and
no status-tracker reads, so the untraced run measures the program
alone.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    first_job: int = 0
    last_job: int = 0
    # counts of the span's own jobs, children excluded
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _next_job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def _set_group(self, idx: int | None) -> None:
        sc = self.spark.sparkContext
        if idx is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{self.run_id}:{idx}", self.spans[idx].name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(), parent, self.run_id)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group(idx)
        sp.first_job = self._next_job_id()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            sp.last_job = self._next_job_id()
            self._stack.pop()
            self._set_group(parent)
            self._count_own_jobs(sp)

    def _count_own_jobs(self, sp: Span) -> None:
        own = set(range(sp.first_job, sp.last_job))
        for c in sp.children:
            own -= set(range(self.spans[c].first_job, self.spans[c].last_job))
        tracker = self.spark.sparkContext.statusTracker()
        sp.jobs = len(own)
        for jid in own:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped stage: its shuffle output was reused
                sp.stages += 1
                sp.tasks += st.numCompletedTasks
                sp.tasks_failed += st.numFailedTasks

    # --- aggregation -------------------------------------------------

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[idx]
        return (sp.end - sp.start) - sum(
            self.spans[c].end - self.spans[c].start for c in sp.children
        )

    def _subtree(self, idx: int):
        yield idx
        for c in self.spans[idx].children:
            yield from self._subtree(c)

    def totals(self, name: str, root: int | None = None) -> dict[str, float]:
        """Sum over every span called ``name`` (within span ``root`` if
        given): count, wall and self time, and job/stage/task counts of
        the span and its children."""
        out = dict(n=0, wall=0.0, self=0.0, jobs=0, stages=0, tasks=0, tasks_failed=0)
        scope = range(len(self.spans)) if root is None else self._subtree(root)
        for i in scope:
            sp = self.spans[i]
            if sp.name != name:
                continue
            out["n"] += 1
            out["wall"] += sp.end - sp.start
            out["self"] += self.self_time(i)
            for j in self._subtree(i):
                for k in ("jobs", "stages", "tasks", "tasks_failed"):
                    out[k] += getattr(self.spans[j], k)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                rec = asdict(sp)
                rec.update(idx=i, self_s=self.self_time(i))
                fh.write(json.dumps(rec) + "\n")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of data files under ``path``. Spark's ``_SUCCESS``
    markers and hidden ``.crc`` checksums are not data and are skipped."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles

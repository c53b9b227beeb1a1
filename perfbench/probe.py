"""Outside-in counters and span tracing for the benchmark.

Nothing here reaches into ``zoi_spark``: Spark job/task counts come from
the public ``SparkContext.statusTracker()`` per job group, output sizes
from the file system, memory from ``/proc/<pid>/status``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import time
from dataclasses import dataclass, field


def dir_bytes(*paths: str) -> int:
    """Total size of the regular files under ``paths``."""
    total = 0
    for root in paths:
        for dirpath, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files)
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


@dataclass
class JobCounts:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def __iadd__(self, other: "JobCounts") -> "JobCounts":
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks
        return self


def job_group_counts(sc, group: str) -> JobCounts:
    """Jobs, tasks and failed tasks of every job run under ``group``."""
    tracker = sc.statusTracker()
    out = JobCounts()
    for job_id in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                out.tasks += stage.numCompletedTasks
                out.failed_tasks += stage.numFailedTasks
    return out


@dataclass
class Span:
    name: str            # "<layer>.<call>"
    start: float
    end: float
    parent: int | None   # index of the enclosing span
    op: str              # id of the operation the span belongs to
    group: str           # Spark job group of the jobs run directly in it
    jobs: JobCounts = field(default_factory=JobCounts)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. While disabled it records nothing and
    sets no job group, so traced and untraced operations run the same
    Spark work."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = ""
        self._groups = itertools.count()
        self._collected = 0      # spans before this index have job counts

    @contextlib.contextmanager
    def op(self, op_id: str, enabled: bool):
        """One operation; its spans share ``op_id``."""
        saved, self.enabled, self._op = self.enabled, enabled, op_id
        try:
            with self.span("op." + op_id.split("#")[0]):
                yield
        finally:
            self.enabled = saved

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        group = f"perfbench-{next(self._groups)}"
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self._op, group))
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[self._stack.pop()].end = time.perf_counter()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p.group, p.name)

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    # -- reports (call once the measured work is done) --------------------

    def collect_jobs(self) -> None:
        """Fill the job counts of the spans recorded since the last call,
        children folded into parents. Call after the measured work and
        before the SparkContext stops, once the status store has seen
        every job end."""
        fresh = self.spans[self._collected:]
        for s in fresh:
            s.jobs = job_group_counts(self.sc, s.group)
        for s in reversed(fresh):
            if s.parent is not None:
                self.spans[s.parent].jobs += s.jobs
        self._collected = len(self.spans)

    def select(self, name: str, op_prefix: str = "") -> list[Span]:
        return [s for s in self.spans
                if s.name == name and s.op.startswith(op_prefix)]

    def self_times(self, op_prefix: str) -> dict[str, float]:
        """Per layer: span time minus the time its child spans cover,
        averaged over the operations whose id starts with ``op_prefix``."""
        chosen = [i for i, s in enumerate(self.spans)
                  if s.op.startswith(op_prefix)]
        covered = {i: 0.0 for i in chosen}
        for i in chosen:
            p = self.spans[i].parent
            if p is not None:
                covered[p] += self.spans[i].seconds
        out: dict[str, float] = {}
        for i in chosen:
            s = self.spans[i]
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - covered[i]
        n_ops = len({self.spans[i].op for i in chosen}) or 1
        return {k: v / n_ops for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, "op": s.op,
                        "jobs": s.jobs.jobs, "tasks": s.jobs.tasks,
                        "failed_tasks": s.jobs.failed_tasks}
                       for s in self.spans], f, indent=1)

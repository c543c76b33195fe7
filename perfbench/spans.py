"""Spans around calls into the program's layers, and the Spark event
log of the benchmark's own session, joined per span.

A span is (id, name, parent, start, end, cpu). Spans stay in memory
and are written out once, when the run ends. While a span is open the
benchmark sets the Spark job group to the span's id, so a job carries
the label of the layer that launched it. Jobs submitted from other
threads (pipeline.force_outputs runs its sinks on a thread pool, which
does not inherit the group) are given to the innermost span open when
they were submitted.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _label(self) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
            self.sc.setLocalProperty("spark.job.description", self.spans[sid].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.time())
        cpu0 = procstat.tree_cpu_s()
        self.spans.append(sp)
        self._stack.append(sp.id)
        self._label()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.cpu_s = procstat.tree_cpu_s() - cpu0
            self._stack.pop()
            self._label()

    def subtree(self, root: int) -> list[Span]:
        out, ids = [], {root}
        for sp in self.spans[root:]:
            if sp.id in ids or sp.parent in ids:
                ids.add(sp.id)
                out.append(sp)
        return out

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Span duration minus the part its children cover, summed per name."""
        child_wall: dict[int, float] = {}
        for sp in spans:
            if sp.parent is not None:
                child_wall[sp.parent] = child_wall.get(sp.parent, 0.0) + sp.wall
        out: dict[str, float] = {}
        for sp in spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.wall - child_wall.get(sp.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


@dataclass
class SparkWork:
    """Task statistics of the jobs attributed to a set of spans."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    stage_task_ms: list[list[int]] = field(default_factory=list)

    def task_skew(self) -> float:
        """max / median task time of the stage with the longest task."""
        if not self.stage_task_ms:
            return 0.0
        slowest = max(self.stage_task_ms, key=max)
        med = statistics.median(slowest)
        return max(slowest) / med if med > 0 else 0.0


class EventLog:
    """Jobs, stages and tasks read from a Spark event log directory."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, tuple[float, str | None, list[int]]] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.ran: set[int] = set()
        for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))
        # a stage listed by several jobs ran in the first of them
        self.stage_job: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid][2]:
                self.stage_job.setdefault(sid, jid)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            self.jobs[ev["Job ID"]] = (ev["Submission Time"] / 1000, group, ev["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            self.ran.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                }
            )

    def job_spans(self, tracer: Tracer) -> dict[int, int]:
        """job id -> span id: by job group, else by submission time."""
        out = {}
        for jid, (submitted, group, _) in self.jobs.items():
            if group and group.startswith(GROUP_PREFIX):
                out[jid] = int(group[len(GROUP_PREFIX):])
                continue
            open_spans = [sp for sp in tracer.spans if sp.start <= submitted <= sp.end]
            if open_spans:
                out[jid] = max(open_spans, key=lambda sp: sp.start).id
        return out

    def work(self, job_ids: list[int]) -> SparkWork:
        w = SparkWork(jobs=len(job_ids))
        for jid in job_ids:
            for sid in self.jobs[jid][2]:
                if sid not in self.ran or self.stage_job[sid] != jid:
                    continue
                ts = self.tasks.get(sid, [])
                w.stages += 1
                w.tasks += len(ts)
                w.task_s += sum(t["run_ms"] for t in ts) / 1000
                w.gc_s += sum(t["gc_ms"] for t in ts) / 1000
                w.shuffle_mb += sum(t["shuffle_b"] for t in ts) / 1e6
                w.spill_mb += sum(t["spill_b"] for t in ts) / 1e6
                if ts:
                    w.stage_task_ms.append([t["run_ms"] for t in ts])
        return w

"""Spans and Spark counts recorded from outside the program.

A span wraps one call into a layer's public function: name, layer, start,
end, parent span and request id, kept in memory until the run ends. Each
span tags the Spark jobs its call submits with a job group of its own, so
the status tracker gives jobs, tasks and failed tasks per call, and the
event log (enabled only for traced runs) gives shuffle, spill, executor
run time and GC time per call.

Jobs outside any span (and every job of an untraced run) run under one
job group for the run, so failed tasks are counted for all of them without
touching the engine's configuration.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    request: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    # filled from the event log
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise only counts failed tasks."""

    RUN_GROUP = "perfbench-run"

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.request = 0
        sc.setJobGroup(self.RUN_GROUP, "perfbench", False)

    def next_request(self) -> int:
        self.request += 1
        return self.request

    @contextmanager
    def span(self, name: str, layer: str):
        """Wrap one public call. Yields the span (or None when untraced) so
        the caller can attach results such as iteration counts."""
        if not self.enabled:
            t0 = time.perf_counter()
            yield None
            self._log(name, time.perf_counter() - t0)
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self.request, parent and parent.id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s), name, False)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._log(name, s.wall_s)
            self._stack.pop()
            self._collect_status(s)
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name, False)
            else:
                self.sc.setJobGroup(self.RUN_GROUP, "perfbench", False)

    @staticmethod
    def _log(name: str, seconds: float) -> None:
        print(f"perfbench: {name} {seconds:.3f}s", file=sys.stderr, flush=True)

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-span-{s.id}"

    def _collect_status(self, s: Span) -> None:
        st = self.sc.statusTracker()
        s.jobs = sorted(st.getJobIdsForGroup(self._group(s)))
        for j in s.jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    s.tasks += stage.numCompletedTasks
                    s.failed_tasks += stage.numFailedTasks

    def failed_tasks(self) -> int:
        """Failed task attempts seen by the status tracker in this run."""
        st = self.sc.statusTracker()
        groups = [self.RUN_GROUP] + [self._group(s) for s in self.spans]
        total = 0
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    total += stage.numFailedTasks if stage else 0
        return total

    def attach_event_log(self, log_dir: str) -> float:
        """Charge shuffle, spill, run and GC time of every task to the span
        whose job group submitted it. Call after the session stopped, so
        the log is complete. Returns the run's total GC seconds."""
        by_group = {self._group(s): s for s in self.spans}
        stage_span: dict[int, Span] = {}
        gc_total = 0.0
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if not os.path.isfile(path) or path.endswith(".crc"):
                continue
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group in by_group:
                            for sid in ev.get("Stage IDs", []):
                                stage_span[sid] = by_group[group]
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        gc = m.get("JVM GC Time", 0) / 1000.0
                        gc_total += gc
                        s = stage_span.get(ev.get("Stage ID"))
                        if s is None:
                            continue
                        s.gc_s += gc
                        s.task_s += m.get("Executor Run Time", 0) / 1000.0
                        s.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
        return gc_total

    def layer(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id, "name": s.name, "layer": s.layer,
                            "request": s.request, "parent": s.parent,
                            "start": s.start, "end": s.end, "jobs": len(s.jobs),
                            "tasks": s.tasks, "failed_tasks": s.failed_tasks,
                            "shuffle_bytes": s.shuffle_bytes,
                            "spill_bytes": s.spill_bytes, "task_s": s.task_s,
                            "gc_s": s.gc_s, **s.info,
                        }
                    )
                    + "\n"
                )

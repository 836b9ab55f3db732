"""Spans for the traced run, and the Spark event-log stage metrics that
attribute to them.

Each span sets the Spark job group to its own name while it is open, so
every job (and through it every stage and task) launched inside the span
carries the span's name in the event log.  Spans stay in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.procstat import tree_cpu_s

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1].name if self._open else None
        sp = Span(name, self.run_id, parent, time.perf_counter())
        cpu0 = tree_cpu_s()
        self._open.append(sp)
        self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.cpu_s = tree_cpu_s() - cpu0
            self._open.pop()
            if parent is None:
                self.sc.setLocalProperty(_GROUP, None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append(sp)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def coverage(self, root: str) -> float:
        """Share of the root span's wall covered by its direct children."""
        r = self.get(root)
        return sum(s.s for s in self.spans if s.parent == root) / r.s

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


@dataclass
class GroupStats:
    jobs: int = 0
    task_run_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 1.0


def event_log_stats(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: job count, summed task run time, shuffle bytes
    written, spill, and the task skew (max / median task duration) of the
    group's heaviest stage.  Reads the one event log in ``log_dir`` (a
    plain file, or a rolling log's directory of ``events_<n>_*`` parts);
    the session must be stopped first so the log is complete."""
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[tuple[float, dict]]] = {}
    stats: dict[str, GroupStats] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP) or ""
                    stats.setdefault(group, GroupStats()).jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
                    tasks.setdefault(ev["Stage ID"], []).append(
                        (dur, ev.get("Task Metrics") or {})
                    )
    heaviest: dict[str, float] = {}
    for sid, ts in tasks.items():
        g = stats.setdefault(stage_group.get(sid, ""), GroupStats())
        run_s = sum(m.get("Executor Run Time", 0) for _, m in ts) / 1000
        g.task_run_s += run_s
        g.shuffle_mb += sum(
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for _, m in ts
        ) / 2**20
        g.spill_mb += sum(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for _, m in ts
        ) / 2**20
        group = stage_group.get(sid, "")
        if len(ts) > 1 and run_s > heaviest.get(group, -1.0):
            heaviest[group] = run_s
            med = statistics.median(d for d, _ in ts)
            g.task_skew = max(d for d, _ in ts) / med if med > 0 else 1.0
    return stats

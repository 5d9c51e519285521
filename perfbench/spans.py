"""In-memory spans around calls into each layer, plus the event-log
reader that attributes Spark task metrics to them.

A span is (id, parent, name, start, end). When tracing is on, each span
also owns a Spark job group named after its id, so the jobs a call
launches are counted right after it returns (the status store keeps only
the last 1000 jobs).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once, and only inside the span)."""
    return span.dur - busy_time([
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ])


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Attach to the (current) SparkContext for job attribution."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        """Time the body as a child of the innermost open span. With
        ``jobs=False`` (calls that launch no Spark job) only the times are
        recorded, which keeps the tracing cost of a fast call small."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, parent.id if parent else None, name,
                  time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self._live_sc() if jobs else None
        if sc is not None:
            sc.setJobGroup(f"pb{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc = self._live_sc() if jobs else None
            if sc is not None:
                st = sc.statusTracker()
                sp.jobs = sorted(st.getJobIdsForGroup(f"pb{sp.id}"))
                for j in sp.jobs:
                    info = st.getJobInfo(j)
                    for s in (info.stageIds if info else []):
                        si = st.getStageInfo(s)
                        sp.tasks += si.numTasks if si else 0
                if parent is not None:
                    sc.setJobGroup(f"pb{parent.id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def _live_sc(self):
        sc = self._sc
        return sc if sc is not None and sc._jsc is not None else None

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def dump(self, path: str) -> None:
        rows = [
            {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start,
             "end": s.end, "self": self_time(s, self.children(s)),
             "jobs": len(s.jobs), "tasks": s.tasks, **s.attrs}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def read_event_logs(log_dir: str) -> dict:
    """Per job group: task metrics, stage intervals and job count, from
    every uncompressed Spark event log under ``log_dir``."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": set(), "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "stage_ivs": [],
    })
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        # one application per entry: a plain file, or a rolling-log
        # directory of events_<n>_* files
        files = [app] if os.path.isfile(app) else sorted(
            glob.glob(os.path.join(app, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]))
        stage_group: dict[int, str] = {}
        for line in _lines(files):
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                for s in e.get("Stage IDs", []):
                    stage_group[s] = g
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                g = stage_group.get(si["Stage ID"])
                if g is not None and "Submission Time" in si:
                    groups[g]["stages"].add(si["Stage ID"])
                    groups[g]["stage_ivs"].append(
                        (si["Submission Time"] / 1000.0,
                         si.get("Completion Time", si["Submission Time"]) / 1000.0))
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e.get("Stage ID"))
                if g is None:
                    continue
                acc = groups[g]
                acc["tasks"] += 1
                m = e.get("Task Metrics") or {}
                acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return dict(groups)


def _lines(files: list[str]):
    for path in files:
        with open(path, errors="replace") as f:
            yield from f


def busy_time(ivs: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

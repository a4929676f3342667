"""Spans around the benchmark's calls into the engine, and the Spark
status-store totals behind each one.

A span records its name, start, end and parent in memory.  When tracing is
on, each span also runs its Spark jobs under a job group of its own, and
``StageTotals`` later sums, per group, the stages Spark's status store
recorded.  The reader works with ``spark.ui.enabled=false``: the status
store is fed by the listener bus whether or not the UI is up.  It calls the
5-argument ``AppStatusStore.stageList`` overload, because the 1-argument
one is not reachable through py4j.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = ("stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb")


@dataclass
class Span:
    name: str
    start: float
    parent: str | None
    group: str | None
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Span recorder; ``sc`` is set only for a traced run."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        group = f"{name}#{len(self.spans)}" if self.sc is not None else None
        s = Span(name, 0.0, parent.name if parent else None, group)
        self.spans.append(s)
        self._stack.append(s)
        if group is not None:
            self._set_group(group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                if parent is not None and parent.group is not None:
                    self._set_group(parent.group, parent.name)
                else:
                    self._set_group(None, None)

    def _set_group(self, group, description):
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", description)

    def last(self, name: str) -> Span:
        return [s for s in self.spans if s.name == name][-1]

    def records(self) -> list[dict]:
        return [{"name": s.name, "parent": s.parent, "group": s.group,
                 "start": s.start, "end": s.end} for s in self.spans]


class StageTotals:
    """Per-job-group sums over the stages Spark's status store kept."""

    def __init__(self, sc):
        self.sc = sc

    def _stages(self) -> dict[int, list]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm, gw = self.sc._jvm, self.sc._gateway
        seq = jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        by_id: dict[int, list] = {}
        for k in range(seq.size()):
            st = seq.apply(k)
            by_id.setdefault(st.stageId(), []).append(st)
        return by_id

    def for_groups(self, groups: list[str]) -> dict[str, dict[str, float]]:
        """{group: {stages, tasks, cpu_s, ...}} summed over the group's jobs."""
        tracker = self.sc.statusTracker()
        stages = self._stages()
        out = {}
        for g in groups:
            ids = set()
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    ids.update(info.stageIds)
            tot = dict.fromkeys(STAGE_FIELDS, 0.0)
            for sid in ids:
                for st in stages.get(sid, []):
                    if st.status().toString() not in ("COMPLETE", "FAILED"):
                        continue  # skipped: its shuffle output was reused
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    tot["cpu_s"] += st.executorCpuTime() / 1e9
                    tot["gc_s"] += st.jvmGcTime() / 1e3
                    tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    tot["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                    tot["spill_mb"] += st.diskBytesSpilled() / 1e6
            out[g] = tot
        return out

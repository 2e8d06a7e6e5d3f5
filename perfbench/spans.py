"""Spans around calls into the program's layers, and the Spark counters
that attach to them.

A span records name, start, end and parent.  Each span runs under its
own Spark job group, so every job a span starts (directly, or from a
thread Spark hands the group to, such as a broadcast) can be found
afterwards through ``statusTracker().getJobIdsForGroup`` and its stages
read from the status store, which keeps them with the UI disabled.
Spans stay in memory; :meth:`Tracer.dump` writes them out once, at the
end of the run.  A disabled tracer records nothing and costs one branch
per span.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_JOB_GROUP = "spark.jobGroup.id"

#: Counter names read per span from the stages of its jobs.
STAGE_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
    "gc_s", "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, name, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setLocalProperty(_JOB_GROUP, f"perfbench-{sp.id}")
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            outer = f"perfbench-{self._stack[-1].id}" if self._stack else None
            self._sc.setLocalProperty(_JOB_GROUP, outer)

    def last(self, name: str) -> Span:
        """The most recently started span called ``name``."""
        return next(s for s in reversed(self.spans) if s.name == name)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def read_counters(self, spans: list[Span]) -> None:
        """Attach the stage counters of each span's own jobs.  Call after
        the spans' actions have returned; waits for the listener bus so
        the status store has every finished stage."""
        if not spans:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for sp in spans:
            c = dict.fromkeys(STAGE_COUNTERS, 0.0)
            for job in tracker.getJobIdsForGroup(f"perfbench-{sp.id}"):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    sd = store.lastStageAttempt(stage)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["task_run_s"] += sd.executorRunTime() / 1e3
                    c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["input_bytes"] += sd.inputBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sp.counters = c

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover
    (children of one span never overlap: calls are sequential)."""
    covered: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            covered[sp.parent] = covered.get(sp.parent, 0.0) + sp.duration
    return {sp.id: sp.duration - covered.get(sp.id, 0.0) for sp in spans}


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span under it (spans are stored in start order)."""
    ids = {root.id}
    out = [root]
    for sp in spans[root.id + 1:]:
        if sp.parent in ids:
            ids.add(sp.id)
            out.append(sp)
    return out


def patch_module_attr(package: str, attr: str, original, replacement) -> None:
    """Rebind ``attr`` to ``replacement`` in every imported module of
    ``package`` that bound it to ``original`` (``from m import f`` copies
    the reference, so patching the defining module alone misses callers)."""
    for name, mod in list(sys.modules.items()):
        if (name == package or name.startswith(package + ".")) and getattr(
            mod, attr, None
        ) is original:
            setattr(mod, attr, replacement)

"""Spans around the engine's layer calls, with Spark task counters.

Each span sets its own Spark job group, so after the traced operation the
jobs it caused (its own and its children's) are read back from Spark's
status store: tasks run, failed tasks, executor run time, shuffle write
and spill bytes. Spans are kept in memory and written out at the end.

:func:`patched` wraps engine functions for one traced operation. Spark is
lazy, so a wrapper can also force the evaluation its layer would
otherwise defer (``force``), which puts that work inside the layer's span
instead of a later consumer's.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field

COUNTERS = ("s", "tasks", "failed_tasks", "core_util", "shuffle_write_bytes",
            "spill_bytes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent and parent.sid,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _subtree(self, span: Span) -> list[Span]:
        out = [span]
        for s in self.spans:
            if s.parent is not None and s.parent in {x.sid for x in out}:
                out.append(s)
        return out

    def layer(self, name: str) -> dict[str, float]:
        """Summed counters of every span called ``name``, children included."""
        spans = [s for s in self.spans if s.name == name]
        if not spans:
            return {c: 0 for c in COUNTERS}
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages: set[int] = set()
        for span in spans:
            for s in self._subtree(span):
                for job in tracker.getJobIdsForGroup(s.group):
                    info = tracker.getJobInfo(job)
                    if info is not None:
                        stages.update(info.stageIds)
        out = {c: 0 for c in COUNTERS}
        run_ms = 0
        for sid in stages:
            data = store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            out["tasks"] += data.numTasks()
            out["failed_tasks"] += data.numFailedTasks()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["spill_bytes"] += (data.memoryBytesSpilled()
                                   + data.diskBytesSpilled())
            run_ms += data.executorRunTime()
        out["s"] = sum(s.end - s.start for s in spans)
        out["core_util"] = run_ms / 1000 / (out["s"] * self.cores)
        for span in spans:
            for k, v in span.counts.items():
                out[k] = out.get(k, 0) + v
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([dict(id=s.sid, name=s.name, parent=s.parent,
                            start_s=s.start - t0, end_s=s.end - t0,
                            counts=s.counts) for s in self.spans], f, indent=1)


@contextlib.contextmanager
def patched(tracer: Tracer, targets):
    """Wrap ``(module, attr, span_name, after)`` targets for the duration.

    ``after(result, span)`` runs inside the span once the wrapped call
    returns; it may force evaluation and record counts, and returns the
    value handed back to the caller."""
    saved = []
    try:
        for module, attr, name, after in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))

            @functools.wraps(fn)
            def wrapper(*a, _fn=fn, _name=name, _after=after, **kw):
                with tracer.span(_name) as s:
                    out = _fn(*a, **kw)
                    return _after(out, s) if _after else out

            setattr(module, attr, wrapper)
        yield
    finally:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)

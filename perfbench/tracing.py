"""Spans and Spark job accounting for the traced run.

Spans are recorded only from the benchmark's own code: around the
public operator calls it makes, and around driver-side layer functions
it wraps for the duration of the traced run (the wrapper replaces the
module attribute, so the engine's own calls go through it; nothing in
the engine changes). Spans stay in memory and are written out once,
when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None  # id of the enclosing benchmark operation
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records nested spans on the driver thread. When `enabled` is
    false every call is a cheap no-op, so the untraced run pays
    nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent,
                 op=self._op, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def operation(self, kind: str, op_id: int):
        """Top-level span of one benchmark operation; layer spans opened
        inside it carry its id."""
        prev, self._op = self._op, op_id
        try:
            with self.span(f"op.{kind}", kind=kind) as s:
                yield s
        finally:
            self._op = prev

    def wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Replace module.attr with a spanning wrapper until unwrap_all.
        `on_call(span, args, kwargs, result)` may record counts on the
        span at the same boundary."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, kwargs, result)
                return result

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover
        (children nest strictly: one driver thread)."""
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in self.spans}

    def layer_ms(self, name: str) -> float:
        """Mean self time per call of the spans called `name`, in ms."""
        st = self.self_times()
        vals = [st[s.sid] for s in self.spans if s.name == name]
        return 1000.0 * statistics.fmean(vals) if vals else 0.0

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds."""
        st = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s.end - s.start
            d["self_s"] += st[s.sid]
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                **extra,
                "summary": self.summary(),
                "spans": [
                    {"id": s.sid, "name": s.name, "parent": s.parent,
                     "op": s.op, "start_s": round(s.start - t0, 6),
                     "end_s": round(s.end - t0, 6), **s.attrs}
                    for s in self.spans
                ],
            }, f, default=str)


class JobAccount:
    """Counts the Spark jobs, stages, bytes and task times one driver
    call caused, through a job group per call and Spark's own status
    store (read after the listener bus has drained)."""

    IDLE_GROUP = "perfbench-idle"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def begin(self) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str) -> dict:
        self.sc.setJobGroup(self.IDLE_GROUP, self.IDLE_GROUP)
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        out = {"jobs": len(jobs), "input_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "run_ms": 0, "heaviest_task_ms": []}
        heaviest = -1
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage skipped, never recorded
                continue
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            run = sd.executorRunTime()
            out["run_ms"] += run
            if run > heaviest:
                heaviest = run
                tasks = store.taskList(sid, sd.attemptId(), 100000)
                out["heaviest_task_ms"] = [
                    tasks.apply(i).duration().get() for i in range(tasks.size())
                    if tasks.apply(i).duration().isDefined()
                ]
        return out


class NoAccount:
    """JobAccount stand-in for the untraced run: no job groups, no
    listener-bus waits."""

    def begin(self) -> str:
        return ""

    def end(self, group: str) -> dict:
        return {}

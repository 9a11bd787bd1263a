"""Tracing for the benchmark's traced runs.

A span is recorded around each call into a layer: name, start, end, the
parent span and counts. Spans stay in memory and are written as JSON
lines when the run ends. A layer's self time is its spans' durations
minus the time their child spans cover.

Two counters read the engine from outside:

- ``Py4JCounter`` counts the commands the Python driver sends to the
  JVM. It wraps the Py4J client only while a traced run is live.
- ``job_group_metrics`` reads jobs, stages, tasks, shuffle writes,
  spill and the longest task of one job group from the status tracker
  and the application status store (the UI is off, the store is not).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. While ``enabled`` is false ``span`` records nothing,
    so wrapped calls cost one branch outside the traced phases."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._undo: list = []
        self.py4j = Py4JCounter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(next(self._ids), name, parent, time.perf_counter())
        calls0 = self.py4j.calls
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.counts["py4j_calls"] = self.py4j.calls - calls0
            self._stack.pop()
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span
        named ``name``; ``on_result(span, result)`` may add counts.
        ``close`` puts every wrapped attribute back."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
                if sp is not None and on_result is not None:
                    on_result(sp, result)
                return result

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.py4j.uninstall()

    # -- summaries ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans.
        Spans run on one thread, so children never overlap."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.duration
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.duration - child_time[sp.id]
        return dict(out)

    def total_s(self, name: str) -> float:
        """Summed wall seconds of every span named ``name``."""
        return sum(sp.duration for sp in self.spans if sp.name == name)

    def durations_ms(self, name: str) -> list[float]:
        return [sp.duration * 1000.0 for sp in self.spans if sp.name == name]

    def count(self, name: str, key: str) -> float:
        return sum(sp.counts.get(key, 0) for sp in self.spans if sp.name == name)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(
                    json.dumps(
                        {
                            "id": sp.id,
                            "name": sp.name,
                            "parent": sp.parent,
                            "start": round(sp.start, 6),
                            "end": round(sp.end, 6),
                            "counts": sp.counts,
                        }
                    )
                    + "\n"
                )


class Py4JCounter:
    """Counts Py4J commands by wrapping the gateway client's
    ``send_command``; ``paused()`` excludes the tracer's own reads.
    Memory commands are not counted: Py4J's finalizer thread sends one
    whenever Python garbage-collects a JVM reference, at times that
    differ from run to run."""

    def __init__(self) -> None:
        self.calls = 0
        self._client = None
        self._paused = False

    def install(self, spark) -> None:
        from py4j.protocol import MEMORY_COMMAND_NAME

        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        counter = self

        def send_command(command, *args, **kwargs):
            if not counter._paused and not command.startswith(MEMORY_COMMAND_NAME):
                counter.calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command
        self._client = client

    def uninstall(self) -> None:
        if self._client is not None:
            del self._client.send_command  # the class method shows again
            self._client = None

    @contextlib.contextmanager
    def paused(self):
        prev, self._paused = self._paused, True
        try:
            yield
        finally:
            self._paused = prev


def job_group_metrics(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle write (MB), spill (MB) and the longest
    task (ms) of every job run under ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._gateway.jvm
    quantile = sc._gateway.new_array(jvm.double, 1)
    quantile[0] = 1.0
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_max_ms": 0.0}
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage skipped or evicted from the store
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        summary = store.taskSummary(sid, st.attemptId(), quantile)
        if summary.isDefined():
            out["task_max_ms"] = max(out["task_max_ms"], summary.get().executorRunTime().apply(0))
    return out

"""Measurement plumbing: spans, Spark engine counters and process memory.

- ``Tracer`` records a span (name, start, end, parent, run id) around
  each call the benchmark makes into a layer. Spans stay in memory and
  are written out once, when the run ends.
- ``SessionCounters`` reads Spark's own status store through the JVM and
  attributes every stage to the phase that was open when it ran, by
  stage-id range. No program change is needed.
- ``RssSampler`` follows the peak memory of the driver JVM plus the
  Python workers alive beside it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.procs import kb_field, proc_stats


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` turns ``span`` into a
    plain timer: the untraced run times the same calls without keeping
    spans."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None, self.run_id, attrs)
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec.end = time.time()
            if self.enabled:
                self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> None:
        """Record a span measured elsewhere (a streaming trigger)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, self.run_id, attrs))

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def self_time(self, index: int) -> float:
        """Span duration minus the part its direct children cover."""
        s = self.spans[index]
        covered = sum(c.duration for c in self.spans if c.parent == index)
        return s.duration - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": i,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "run_id": s.run_id,
                        "self_s": self.self_time(i),
                        **s.attrs,
                    }
                    for i, s in enumerate(self.spans)
                ],
                fh,
            )


COUNTERS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "tasks",
    "task_time_s",
    "stage_skew",
)


class SessionCounters:
    """Per-phase engine counters from the driver's ``AppStatusStore``.

    ``take(phase)`` claims every stage created since the previous call
    for ``phase``. Call it right after the phase's last action, so no
    other phase's stages can interleave."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._store = spark._jsc.sc().statusStore()
        self._seen = -1
        self.phases: dict[str, dict[str, float]] = {}

    def _stages(self):
        jvm = self._jvm
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False, self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        return [seq.apply(i) for i in range(seq.size())]

    def skip(self) -> None:
        """Forget stages run so far (set-up work outside any phase)."""
        ids = [s.stageId() for s in self._stages()]
        self._seen = max(ids, default=self._seen)

    def take(self, phase: str) -> None:
        acc = self.phases.setdefault(phase, {c: 0.0 for c in COUNTERS})
        slowest, slowest_time = None, -1.0
        top = self._seen
        for s in self._stages():
            sid = s.stageId()
            if sid <= self._seen or s.status().toString() != "COMPLETE":
                continue
            top = max(top, sid)
            acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
            acc["shuffle_read_bytes"] += s.shuffleReadBytes()
            acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            acc["tasks"] += s.numCompleteTasks()
            run_s = s.executorRunTime() / 1000.0
            acc["task_time_s"] += run_s
            if run_s > slowest_time:
                slowest, slowest_time = s, run_s
        self._seen = top
        if slowest is not None:
            acc["stage_skew"] = max(acc["stage_skew"], self._skew(slowest))

    def _skew(self, stage) -> float:
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        median, top = run.apply(0), run.apply(1)
        return top / median if median > 0 else 1.0


class RssSampler:
    """Samples the JVM's live process tree every half second; the peak is
    the largest sum seen of the tree's proportional set size (``Pss``),
    which counts the pages a forked worker shares with its parent once,
    not once per worker."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in proc_stats().items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += kb_field(f"/proc/{pid}/smaps_rollup", "Pss:")
            todo.extend(children.get(pid, ()))
        self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0

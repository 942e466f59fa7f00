"""In-memory span tracer for the traced benchmark run.

A span wraps one call into a layer's public function plus an eager
``localCheckpoint`` of its output, with the inputs already materialized, so
the span's duration is the layer's own work. Spans record name, start, end,
parent, the operation they belong to, and the Spark jobs that ran inside
them; the engine-wide counters of those jobs (tasks, shuffle write, spill,
executor CPU and run time) are read from Spark's own status store after the
span closes, outside the timed interval. Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc.statusTracker()
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(dict)
        self._stack: list[dict] = []
        self._next_job = 0
        self._skip_finished_jobs()

    # -- engine counters --------------------------------------------------
    def _skip_finished_jobs(self) -> None:
        """Advance the job watermark past every job already run, so jobs
        outside any span (counters, checks) are attributed to nothing."""
        self._bus.waitUntilEmpty(60_000)
        while self._tracker.getJobInfo(self._next_job) is not None:
            self._next_job += 1

    def _engine_delta(self) -> dict:
        self._bus.waitUntilEmpty(60_000)
        jobs, stages = 0, set()
        while True:
            info = self._tracker.getJobInfo(self._next_job)
            if info is None:
                break
            jobs += 1
            stages.update(info.stageIds)
            self._next_job += 1
        out = {"jobs": jobs, "tasks": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "cpu_ns": 0, "run_ms": 0}
        for sid in sorted(stages):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store or never posted
                continue
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["cpu_ns"] += st.executorCpuTime()
            out["run_ms"] += st.executorRunTime()
        return out

    # -- spans --------------------------------------------------------------
    @contextmanager
    def op(self, kind: str, index: int):
        """Root span of one traced operation (a job or an increment)."""
        with self._span(kind, kind=kind, index=index, engine=False) as rec:
            yield rec

    @contextmanager
    def span(self, name: str):
        """Leaf span around one layer call; Spark jobs inside it are its own."""
        with self._span(name, engine=True) as rec:
            yield rec

    @contextmanager
    def _span(self, name: str, kind: str | None = None, index: int | None = None,
              engine: bool = True):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": (kind, index) if parent is None else parent["op"],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if engine:
            self._skip_finished_jobs()
        rec["start"] = time.monotonic() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.t0
            self._stack.pop()
            if engine:
                rec["engine"] = self._engine_delta()

    def count(self, op: tuple, name: str, value: float) -> None:
        self.counts[f"{op[0]}-{op[1]}"][name] = value

    # -- results --------------------------------------------------------------
    def self_times(self) -> list[dict]:
        """Each span with its self time: duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            dict(s, self_s=(s["end"] - s["start"]) - child[s["id"]])
            for s in self.spans
        ]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.self_times(), "counts": self.counts, **extra},
                f, indent=1, default=str,
            )

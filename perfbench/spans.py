"""Spans around calls into the package, with Spark counters per span.

A span covers one call into a layer. With tracing on it records its
name, start, end, parent and op id, plus the Spark work done inside it:
the job ids started while it was open (one client, so that job-id
window is exact even when the package launches jobs from its own
threads, which drop any job group), each job's stages from the status
tracker, and each stage's task metrics from the status store. The
listener bus is drained before the store is read, so the last stage of
the span is already counted.

With tracing off a span is a no-op, so the untraced run times the same
calls with nothing around them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Stage fields summed per span: metric name -> StageData accessor.
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class Tracer:
    """Records spans in memory; ``write`` dumps them as JSON."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def _next_job_id(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def _counters(self, first_job: int, end_job: int) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        out = {"jobs": end_job - first_job, "stages": 0, "tasks": 0}
        out.update({k: 0 for k in _STAGE_FIELDS})
        seen: set[int] = set()
        for job_id in range(first_job, end_job):
            info = tracker.getJobInfo(job_id)
            if info is None:
                raise RuntimeError(f"job {job_id} missing from the status tracker")
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                stage = store.lastStageAttempt(stage_id)
                if stage.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                for name, getter in _STAGE_FIELDS.items():
                    out[name] += getattr(stage, getter)()
        return out

    @contextmanager
    def span(self, name: str, op_id: int | None = None, **attrs):
        """Time one call; ``attrs`` and anything the body adds to the
        yielded dict's ``attrs`` are kept with the span."""
        if not self.enabled:
            yield {"attrs": attrs}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
            "parent": parent["name"] if parent else None,
            "attrs": attrs,
        }
        first_job = self._next_job_id()
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["counters"] = self._counters(first_job, self._next_job_id())
            self.spans.append(rec)

    def timed(self, name: str) -> list[dict]:
        """Spans called ``name`` that belong to a timed op."""
        return [s for s in self.spans if s["name"] == name and s["op_id"] is not None]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

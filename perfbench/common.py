"""Op recording, percentiles and span aggregation shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback

CORES = 4  # the benchmark runs Spark at local[CORES]


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host so far: time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class OpLog:
    """Timed ops of one run. Each op is wrapped: a failure is recorded
    with its op type and exception class, and the run goes on."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.ops: list[dict] = []

    def run(self, name: str, kind: str, fn):
        """Run ``fn`` as one ``kind`` ('read' or 'write') op; returns its
        result, or None when it raised."""
        op_id = len(self.ops)
        rec = {"name": name, "kind": kind, "ok": False, "error": None}
        self.ops.append(rec)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}", op_id=op_id):
                out = fn()
            rec["ok"] = True
            return out
        except Exception as exc:  # the run must go on and count the failure
            rec["error"] = type(exc).__name__
            print(f"op {name} #{op_id} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            rec["latency_s"] = time.perf_counter() - t0

    def latencies(self, kind: str) -> list[float]:
        """Latencies of ``kind`` ops; a failed op misses every limit."""
        return [o["latency_s"] if o["ok"] else math.inf for o in self.ops if o["kind"] == kind]

    @property
    def failed(self) -> int:
        return sum(not o["ok"] for o in self.ops)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    if math.isinf(xs[hi]):
        return xs[hi] if pos > lo else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_call(spans: list[dict], counter: str) -> float:
    """Mean of one Spark counter per span (0 when the layer never ran)."""
    return sum(s["counters"][counter] for s in spans) / len(spans) if spans else 0.0


def span_seconds(spans: list[dict]) -> float:
    """Median duration of the spans (0 when the layer never ran)."""
    return median([s["end"] - s["start"] for s in spans])


def busy_ratio(spans: list[dict], cores: int) -> float:
    """Executor run time ÷ (wall time × cores) over the spans."""
    wall = sum(s["end"] - s["start"] for s in spans)
    run_s = sum(s["counters"]["run_ms"] for s in spans) / 1000.0
    return run_s / (wall * cores) if wall else 0.0


def tree_bytes(root: str) -> tuple[int, int]:
    """(parquet files, parquet bytes) under ``root``, following the
    version symlinks the index tables publish through."""
    files = size = 0
    for dirpath, _, names in os.walk(root, followlinks=True):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload qh_merge --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run is one fresh Python + Spark
process at local[4] with its own scratch directory under ``.perfbench/``
(removed at the end), so nothing carries over between runs.

Phases: start the session; set the workload up SETUP_REPS times into
fresh directories (``setup_s`` is their median; the last one is used);
run a fixed, seed-determined number of closed-loop steps, one client,
each op timed around its calls into the package; check the outputs
outside the timed region; stop Spark and wait for its JVM to exit.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, read
from spans and Spark's status store (see spans.py). A layer that the
workload does not exercise reads 0. stderr gets every metric by name
with its unit and sample count, and the run's telemetry. Exit code is
0 when every output check passed, 1 when one failed, 2 when the
package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

from common import CORES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# The package's default driver heap (48g) is more than the host has.
# The heap is also the initial size (-Xms), so peak RSS does not follow
# G1's run-to-run heap-growth choices.
DRIVER_MEM = "2g"
# Fewest timed steps; two reach the index workload's maintenance step.
MIN_STEPS = 2
# A failed op's latency in the printed JSON (JSON has no infinity).
MISSED_LIMIT_S = 1e9


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--detail", help="also write every metric, sample count and telemetry here as JSON")
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> dict[str, str]:
    """Cores, heap and every scratch location, all inside ``run_dir``.
    Returns the extra Spark confs that go with it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # Python workers import the package for UDFs
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -Xms{DRIVER_MEM}",
        # keep every job of the run in the status store for the trace
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def descendants(root: int) -> list[int]:
    """Live (non-zombie) processes below ``root``."""
    parent, state = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            parent[int(entry)], state[int(entry)] = int(fields[1]), fields[0]
    out = []
    for pid in parent:
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root and pid != root and state[pid] != "Z":
            out.append(pid)
    return out


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down, and wait until it and every process
    it started (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def end_to_end(oplog, setup_times, peak_mb) -> dict:
    """Metric name -> (value, unit, samples)."""
    from common import median, percentile

    writes, reads = oplog.latencies("write"), oplog.latencies("read")
    done = len(oplog.ops) - oplog.failed
    busy_s = sum(o["latency_s"] for o in oplog.ops)
    return {
        "setup_s": (median(setup_times), "s", len(setup_times)),
        "ops_per_s": (done / busy_s, "1/s", len(oplog.ops)),
        "write_p50_s": (percentile(writes, 0.5), "s", len(writes)),
        "write_p75_s": (percentile(writes, 0.75), "s", len(writes)),
        "read_p50_s": (percentile(reads, 0.5), "s", len(reads)),
        "read_p75_s": (percentile(reads, 0.75), "s", len(reads)),
        "failed_frac": (oplog.failed / len(oplog.ops), "ratio", len(oplog.ops)),
        "peak_rss_mb": (peak_mb, "MB", 1),
    }


def spark_per_op(tracer, n_ops: int) -> dict:
    ops = [s for s in tracer.spans if s["name"].startswith("op.")]
    gc_s = sum(s["counters"]["gc_ms"] for s in ops) / 1000.0
    spill = sum(s["counters"]["spill_bytes"] for s in ops)
    return {
        "spark.gc_s_per_op": (gc_s / n_ops, "s"),
        "spark.spill_bytes_per_op": (spill / n_ops, "bytes"),
    }


def load_workload(name: str):
    if name == "qh_merge":
        import qh_merge as mod
    elif name == "lsh_lifecycle":
        import lsh_lifecycle as mod
    else:
        raise SystemExit(f"unknown workload {name!r}")
    return mod.Workload


def main(argv) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        import lakehouse_dba_tools_spark
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    workload_cls = load_workload(args.workload)

    from common import OpLog, host_cpu_ticks
    from spans import Tracer

    t_process = time.perf_counter()
    load_before = os.getloadavg()
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        confs = pin_environment(run_dir)
        spark = lakehouse_dba_tools_spark.get_session(app_name=f"perfbench-{args.workload}", extra_conf=confs)
        session_s = time.perf_counter() - t_process
        try:
            tracer = Tracer(spark, bool(args.trace))
            oplog = OpLog(tracer)
            wl = workload_cls(spark, args.seed, os.path.join(run_dir, "data"), tracer, oplog)
            setup_times = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup(rep)
                setup_times.append(time.perf_counter() - t0)
            steps = max(MIN_STEPS, round(args.seconds / wl.nominal_step_s))
            ticks0 = host_cpu_ticks()
            t0 = time.perf_counter()
            for i in range(steps):
                wl.step(i)
            phase_s = time.perf_counter() - t0
            ticks1 = host_cpu_ticks()
            errors = wl.check()
            peak_mb = jvm_peak_rss_mb(spark)
            layers = wl.layer_metrics() if args.trace else {}
            if args.trace:
                layers.update(spark_per_op(tracer, len(oplog.ops)))
                trace_dir = os.path.join(ROOT, ".perfbench", "traces")
                os.makedirs(trace_dir, exist_ok=True)
                tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(oplog, setup_times, peak_mb)
    telemetry = {
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "nproc": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "session_start_s": session_s,
        "setup_times_s": setup_times,
        "steps": steps,
        "timed_phase_s": phase_s,
        "host_steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
        "failures": [(o["name"], o["error"]) for o in oplog.ops if not o["ok"]],
    }
    for name, (value, unit, n) in e2e.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})", file=sys.stderr)
    for name, (value, unit) in layers.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}", file=sys.stderr)
    print(f"{args.workload} telemetry {json.dumps(telemetry)}", file=sys.stderr)
    for err in errors:
        print(f"CHECK FAILED {err}", file=sys.stderr)

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in declared[section]:
        if args.trace:
            value = layers.get(m["name"], (0.0,))[0]
        else:
            value = e2e[m["name"]][0]
        metrics[m["name"]] = {"value": MISSED_LIMIT_S if math.isinf(value) else value, "unit": m["unit"]}
    unknown = set(layers) - {m["name"] for m in declared["per_layer"]}
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if args.detail:
        with open(args.detail, "w") as fh:
            json.dump({
                "workload": args.workload, "seed": args.seed, "trace": args.trace,
                "errors": errors, "telemetry": telemetry, "ops": oplog.ops,
                "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
                "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
            }, fh, default=str)
    print(json.dumps({
        "correct": not errors,
        "attempted": len(oplog.ops),
        "failed": oplog.failed,
        "metrics": metrics,
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

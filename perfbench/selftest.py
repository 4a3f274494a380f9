"""Steadiness self-test of the benchmark.

    python3 perfbench/selftest.py                 # both workloads
    python3 perfbench/selftest.py --workload qh_merge

Per workload: two traced runs on the default seed must give
identical count metrics (the exact set below), and one run on the
held-out seed must report every metric name and pass every output
check. A count that does not repeat is printed with its spread; when
that is expected it belongs in UNSTEADY_COUNTS with the reason, which
takes it out of the exact set. It also prints the tracing overhead:
the traced runs' summed op time against one untraced run's. Exit code 0 when every check holds.
"""

from __future__ import annotations

import argparse
import statistics
import sys

from report import run_once

DEFAULT_SEED = 1
HELD_OUT_SEED = 7
WORKLOADS = ("qh_merge", "lsh_lifecycle")
EXACT_SUFFIXES = ("_jobs", "_tasks", "_stages", "_files", "_partitions_rewritten",
                  "pairs_reported", ".commits")
# Counts that legitimately differ between identical runs, with why.
# Seen on seed 1, two runs: ingest jobs 19 vs 19.5 and tasks 58 vs 60
# per call, query jobs 15 vs 15.5.
UNSTEADY_COUNTS: dict[str, str] = {
    "dedup.ingest_jobs": "ingest_batch overlaps its pair collect and its append in driver "
                         "threads; which job first materializes the shared pin varies",
    "dedup.ingest_tasks": "the same race decides whether a stage is rerun or skipped",
    "dedup.query_jobs": "AQE materializes the query's broadcast stages concurrently over "
                        "the pinned sign pass, with the same first-materialization race",
}


def exact_set(metrics) -> list[str]:
    """The count metrics among ``metrics`` that must repeat exactly."""
    return sorted(n for n in metrics if n.endswith(EXACT_SUFFIXES) and n not in UNSTEADY_COUNTS)


def busy_s(rec: dict) -> float:
    """Summed op latency of one run."""
    return sum(o["latency_s"] for o in rec["ops"])


def check_workload(workload: str, seconds: float) -> list[str]:
    problems = []
    a = run_once(workload, DEFAULT_SEED, seconds, 1)
    b = run_once(workload, DEFAULT_SEED, seconds, 1)
    held = run_once(workload, HELD_OUT_SEED, seconds, 1)
    untraced = run_once(workload, DEFAULT_SEED, seconds, 0)
    traced_s = statistics.mean(busy_s(r) for r in (a, b))
    print(f"{workload} tracing overhead: {traced_s:.2f} s of ops traced vs "
          f"{busy_s(untraced):.2f} s untraced ({traced_s / busy_s(untraced) - 1:+.1%})")
    la, lb = a["last_line"]["metrics"], b["last_line"]["metrics"]
    for name in exact_set(a["per_layer"]):
        va, vb = la[name]["value"], lb[name]["value"]
        status = "ok" if va == vb else f"DIFFERS (spread {abs(va - vb):g})"
        print(f"{workload} {name}: {va:g} / {vb:g} {status}")
        if va != vb:
            problems.append(f"{workload}: {name} does not repeat: {va} vs {vb}")
    for rec, label in ((a, "seed"), (b, "seed rerun"), (held, "held-out seed")):
        if rec["errors"] or not rec["last_line"]["correct"]:
            problems.append(f"{workload} {label}: output check failed: {rec['errors']}")
    for section in ("end_to_end", "per_layer"):
        if set(held[section]) != set(a[section]):
            problems.append(f"{workload}: held-out seed changes the {section} metric names: "
                            f"{sorted(set(held[section]) ^ set(a[section]))}")
    if set(held["last_line"]["metrics"]) != set(la):
        problems.append(f"{workload}: held-out seed changes the printed metric names")
    return problems


def main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args(argv)
    problems = []
    for wl in [args.workload] if args.workload else WORKLOADS:
        problems += check_workload(wl, args.seconds)
    for line in problems:
        print("FAIL", line)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Run a workload over several seeds and report the spread of every metric.

    python3 perfbench/report.py --workload qh_merge --seeds 1-10
    python3 perfbench/report.py --workload lsh_lifecycle --seeds 1-3 --traced

Each seed is one fresh ``run.py`` process. For every end-to-end metric
it prints the median, the quartiles (``statistics.quantiles(n=4)``),
the interquartile distance as a share of the median, the bound from
BENCHMARK.json, and the sample count behind one run's value. A spread
at or above a third of its bound is flagged, except for ``setup_s``.

``--traced`` adds a traced run per seed: it prints the per-layer
metrics' medians and the tracing overhead, the traced runs' timed
phase over the untraced runs'.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One run.py process; returns its detail record."""
    out_dir = os.path.join(ROOT, ".perfbench", "report")
    os.makedirs(out_dir, exist_ok=True)
    detail = os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--detail", detail]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    with open(detail) as fh:
        rec = json.load(fh)
    rec["last_line"] = json.loads(proc.stdout.strip().splitlines()[-1])
    return rec


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-5"))
    p.add_argument("--seconds", type=float)
    p.add_argument("--traced", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]

    runs = [run_once(args.workload, s, seconds, 0) for s in args.seeds]
    wide = []
    print(f"{args.workload}: {len(runs)} untraced runs, seeds {args.seeds}")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'bound':>7}  n/run")
    for m in bench["end_to_end"]:
        vals = [r["last_line"]["metrics"][m["name"]]["value"] for r in runs]
        med, q1, q3, rel = spread(vals)
        n = sorted({r["end_to_end"][m["name"]]["n"] for r in runs})
        flag = ""
        if m["name"] != "setup_s" and rel >= m["bound"] / 3:
            flag = "  WIDE"
            wide.append(m["name"])
        print(f"{m['name']:<16}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{rel:>9.4f}{m['bound']:>7}  {n}{flag}")
    failed = sum(r["last_line"]["failed"] for r in runs)
    print(f"failed ops: {failed}; checks failed: {sum(bool(r['errors']) for r in runs)}")
    loads = [r["telemetry"]["loadavg_before"][0] for r in runs]
    print(f"loadavg_1m before each run: {[round(x, 2) for x in loads]}")

    if args.traced:
        traced = [run_once(args.workload, s, seconds, 1) for s in args.seeds]
        print(f"\n{args.workload}: {len(traced)} traced runs")
        for m in bench["per_layer"]:
            vals = [r["last_line"]["metrics"][m["name"]]["value"] for r in traced]
            print(f"{m['name']:<40}{statistics.median(vals):>14.6g} {m['unit']}")
        untraced_s = statistics.median(r["telemetry"]["timed_phase_s"] for r in runs)
        traced_s = statistics.median(r["telemetry"]["timed_phase_s"] for r in traced)
        print(f"tracing overhead: timed phase {traced_s:.3f} s traced vs {untraced_s:.3f} s "
              f"untraced ({traced_s / untraced_s - 1:+.1%})")
    return 1 if wide else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""100×-gate scale evidence.

Runs the two TPC-DS star composites + the SQL-text stress corpus at
scale 1 (sf0.01, the gate), 10 (sf0.1, bench) and 100 (sf1) — fact
sizes via the same `export.scale_for(sf_dir)` the queries use — and
records per-query wall time, fact rows, and per-row cost, plus a plan
probe at each scale asserting the shape did NOT flip (dims still
broadcast, exactly one fact shuffle before the rollup exchange).

Usage: python tools/scale_run.py [out.json]
Writes one JSON document; tools/gen_scale_md.py renders SCALE.md's
measurement table from it. Timings are min-of-N (default 2 passes,
SCALE_RUN_PASSES env) because the host is shared and noisy.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, fact-rows-at-scale-1) — fact sizes from queries_tpcds helpers:
# q7 scans store_sales (200k), q16 catalog_sales (120k); the stress
# corpus scans the whole 24-table warehouse (store 200k + catalog 120k
# + web 120k + returns + 208k inventory rows at scale 1 → dominated by
# the three sales facts).
STARS = [
    ("tpcds_q7_demographics_star", 200_000),
    ("tpcds_q16_catalog_order_spread", 120_000),
    ("tpcds_sqltext_stress", 648_000),  # ss+sr+cs+cr+ws+wr at scale 1
]

SCALES = [("/root/testdata/sf0.01", 1), ("/root/testdata/sf0.1", 10),
          ("/root/testdata/sf1", 100)]


def plan_probe(spark, sf_dir: str) -> dict:
    """Shape of the q7 star plan at this scale: dims must broadcast and
    the fact must shuffle exactly once into the rollup aggregate."""
    from lakehouse_dba_tools_spark.registry import QUERIES

    plan = QUERIES["tpcds_q7_demographics_star"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "exchanges": plan.count("Exchange"),
    }


def main() -> None:
    from lakehouse_dba_tools_spark import registry
    from lakehouse_dba_tools_spark.session import get_session

    registry.load_all()
    spark = get_session()
    passes = int(os.environ.get("SCALE_RUN_PASSES", "2"))
    out: dict = {"cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"), "tiers": []}
    for sf_dir, scale in SCALES:
        tier = {"scale": scale, "sf_dir": sf_dir, "queries": {}}
        for name, base_rows in STARS:
            fn = registry.QUERIES[name]
            best = None
            for _ in range(passes):
                t0 = time.time()
                n = fn(spark, sf_dir).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            rows = base_rows * scale
            tier["queries"][name] = {
                "sec": round(best, 2),
                "fact_rows": rows,
                "us_per_row": round(best / rows * 1e6, 4),
                "result_rows": n,
            }
            print(f"scale {scale:>3} {name}: {best:.2f}s "
                  f"({best / rows * 1e6:.3f} us/fact-row)", flush=True)
        tier["q7_plan"] = plan_probe(spark, sf_dir)
        print(f"scale {scale:>3} q7 plan: {tier['q7_plan']}", flush=True)
        out["tiers"].append(tier)
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_run.json"
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {dest}")


if __name__ == "__main__":
    main()

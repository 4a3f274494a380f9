"""Generate PLANS.md: physical-plan shape of every checked query.

For each CHECKED_FIRST query, record the join strategies, exchange
count, top-k usage, and scan pushdown evidence from the executed plan
at the given SF. The table is the repo's standing answer to "does this
plan survive a 100× scale-up" — broadcast joins stay broadcast only
while the dim side is dim-sized; sort-merge joins and exchange counts
are the shuffle budget.

Usage: python tools/plan_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from lakehouse_dba_tools_spark import get_session, registry

    registry.load_all()
    spark = get_session(app_name="plan-report")

    import subprocess

    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True
    ).stdout.strip() or "unknown"
    print("# Physical-plan shapes of the checked queries")
    print()
    # the commit stamp feeds tools/seal_check.py: seal-mode bench runs
    # refuse while plan-bearing paths moved since this commit
    print(
        f"Generated by `tools/plan_report.py` at `{sf_dir}`, local mode, "
        f"commit `{sha}`."
    )
    print("BHJ = BroadcastHashJoin, SMJ = SortMergeJoin (shuffle join),")
    print("BNLJ = BroadcastNestedLoopJoin (1-row stats stamps only),")
    print("Exch = `Exchange hashpartitioning` count (the shuffle budget),")
    print("TopK = TakeOrderedAndProject (heap top-k, never a full sort).")
    print("Streaming queries execute micro-batches; their batch plans are")
    print("pinned in tests/test_streaming.py instead.")
    print()
    print("| query | BHJ | SMJ | BNLJ | Exch | TopK | notes |")
    print("|---|---|---|---|---|---|---|")

    # Imperative lifecycle carriers return a MATERIALIZED (literal)
    # frame — their all-zero rows are expected; the real plans execute
    # inside the lifecycle and are pinned by the named tests. The note
    # keeps the zero row from reading as "no plan evidence".
    pinned = {
        "lsh_index_incremental_dedup": "lifecycle; plans pinned in tests/test_text_dedup.py (no-text-shuffle, compaction idempotence)",
        "bm25_champions_topk": "lifecycle; tier scorer + full-coverage exactness pinned in tests/test_bm25.py + test_bm25_wand.py (flat-impact gate)",
        "bm25_wand_topk": "lifecycle; wand==exact + theta soundness + pruning fractions pinned in tests/test_bm25_wand.py + test_properties.py",
        "endpoint_lifecycle_control": "driver-side control loop (no Spark plan); transcript + request-gating pinned in tests/test_maintenance_workload.py",
        "ivf_rebuild_invariance_topk": "lifecycle; plans pinned in tests/test_similarity.py (partition-pruned probe, rebuild invariance)",
        "cluster_safe_split_audit": "eagerly materialized 3-row report (pairs + shingle caches released); LSH/CC/split stage plans ride the shared kernels pinned via tests/test_curation.py + test_text_dedup.py",
        "split_leakage_audit": "eagerly materialized <=6-row report (shingle cache released, r11 ADVICE); stage plans ride the same shared kernels as cluster_safe_split_audit",
        "index_forget_audit": "lifecycle; erase-grade forget (all-versions residual + vacuum) with post-forget == fresh-build row equality + replay idempotence + ledger guard pinned in tests/test_skew_forget.py; broadcast anti-join forgets, one-job-per-family residual scans",
        "gdpr_erasure_e2e": "eagerly materialized 7-row audit; table cascade plans pinned in tests/test_skew_forget.py (broadcast semi/anti, facts never shuffle), erase-grade index leg + all-versions residual pinned there too",
        "streaming_ingest_ann": "foreachBatch replay; per-batch plans pinned in tests/test_similarity.py + test_streaming.py",
        "index_family_describe": "lifecycle observability; version/compaction pins in tests/test_indexio.py + lifecycle tests",
        "training_corpus_e2e": "materialized pipeline; stage plans pinned via the per-stage carriers + tests/test_curation.py",
        "tpcds_warehouse_build_audit": "cross-engine export audit; subprocess/export shape pinned in tests/test_datagen_catalog.py",
    }
    for name in registry.CHECKED_FIRST:
        fn = registry.QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"| {name} | - | - | - | - | - | plan error: {str(e)[:60]} |")
            continue
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        exch = plan.count("Exchange hashpartitioning")
        topk = "yes" if "TakeOrderedAndProject" in plan else ""
        notes = []
        if "InMemoryTableScan" in plan:
            notes.append("cached-stage reuse")
        if "mapInPandas" in plan or "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan:
            notes.append("arrow-batched python kernel")
        if "StreamingRelation" in plan:
            notes.append("streaming")
        if name in pinned and bhj + smj + bnlj + exch == 0:
            notes.append(pinned[name])
        print(
            f"| {name} | {bhj} | {smj} | {bnlj} | {exch} | {topk} | {'; '.join(notes)} |"
        )

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

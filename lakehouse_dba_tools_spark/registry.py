"""Shared query registry: name → Spark callable (+ optional DuckDB
oracle SQL). Query modules register into this; ``__spark_entry__``
exports it to the driver."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# The driver's differential gate checks the FIRST registered queries
# (registration order = dict order), and load_all() moves this tuple to
# the front of the registry. The first 50 names are that checked
# window; the last three, appended after it, keep the bench line's set
# stable without shifting the window. Every name must carry an oracle.
# The set is frozen: benchmark history is only comparable while these
# names and their order stay the same.
CHECKED_FIRST: tuple[str, ...] = (
    "doc_text_profile",
    "multimodal_features",
    "doc_decontamination",
    "corpus_pack_chunks",
    "exact_substring_dedup_clean",
    "pq_rerank_recall",
    "approx_quantile_error_bound",
    "lsh_index_incremental_dedup",
    "bm25_wand_topk",
    "index_forget_audit",
    "gdpr_erasure_e2e",
    "ivf_rebuild_invariance_topk",
    "bm25_champions_topk",
    "training_corpus_e2e",
    "salted_join_weighted_rollup",
    "q18_large_orders",
    "tpcds_q7_demographics_star",
    "tpcds_q16_catalog_order_spread",
    "tpcds_q4_three_channel_growth",
    "tpcds_q51_cumulative_crossover",
    "tpcds_q67_rollup_topk_items",
    "tpcds_warehouse_build_audit",
    "tpcds_sqltext_extended_checked",
    "tpcds_sqltext_stress",
    "split_leakage_audit",
    "temperature_mixture_plan",
    "cluster_safe_split_audit",
    "mixture_epoch_materialize",
    "epoch_pack_manifest",
    "streaming_session_windows",
    "incremental_join_retract_refresh",
    "endpoint_lifecycle_control",
    "pivot_user_event_values",
    "rowcount_audit",
    "partition_pruned_merge_report",
    "query_history_etl_e2e",
    "nested_flatten_deep",
    "schema_reconcile_append",
    "asof_purchase_last_view",
    "event_cost_attribution",
    "scalar_function_battery",
    "latest_event_per_user",
    "parquet_table_history",
    "column_stats_profile",
    "maintenance_lifecycle_audit",
    "file_detail_audit",
    "catalog_ddl_roundtrip",
    "orc_roundtrip_report",
    "csv_exotic_declared_report",
    "small_file_write_audit",
    # appended after the 50-slot checked window
    "doc_repetition_scores",
    "endpoint_poll_snapshot",
    "nation_json_serialize",
)


def load_all() -> None:
    """Import every query module (registration side effects), then
    reorder the registry so CHECKED_FIRST leads it, in tuple order."""
    from lakehouse_dba_tools_spark import (  # noqa: F401
        queries,
        queries_advanced,
        queries_collections,
        queries_curation,
        queries_datagen,
        queries_etl,
        queries_functions,
        queries_ingest,
        queries_lakehouse,
        queries_modern,
        queries_observability,
        queries_ops,
        queries_streaming,
        queries_subqueries,
        queries_text,
        queries_tpcds,
        queries_tpch,
        queries_tpch_full,
        queries_vector,
    )

    missing = [n for n in CHECKED_FIRST if n not in QUERIES]
    if missing:
        raise RuntimeError(f"CHECKED_FIRST names not registered: {missing}")
    unoracled = [n for n in CHECKED_FIRST if n not in ORACLE]
    if unoracled:
        raise RuntimeError(f"CHECKED_FIRST queries lack oracles: {unoracled}")
    ordered = list(CHECKED_FIRST) + [n for n in QUERIES if n not in set(CHECKED_FIRST)]
    for mapping in (QUERIES, ORACLE):
        snapshot = {n: mapping[n] for n in ordered if n in mapping}
        mapping.clear()
        mapping.update(snapshot)

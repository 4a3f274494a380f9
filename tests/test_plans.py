"""Plan-quality regression tests: the optimizer properties we rely on
at scale must hold structurally, not just have been observed once."""

from __future__ import annotations

import re

from lakehouse_dba_tools_spark.registry import QUERIES, load_all

load_all()


def _explain(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, name, sf_dir):
    return _explain(spark, QUERIES[name](spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "q6_revenue_forecast", sf_dir)
    pushed = re.search(r"PushedFilters: \[(.*)\]", plan)
    assert pushed, "no PushedFilters in scan"
    assert "l_shipdate" in pushed.group(1)
    assert "l_discount" in pushed.group(1)
    assert "l_quantity" in pushed.group(1)


def test_column_pruning(spark, sf_dir):
    plan = _plan(spark, "pricing_summary", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m
    cols = m.group(1)
    # projection needs 7 of 11 lineitem columns; key absence checks:
    assert "l_orderkey" not in cols and "l_partkey" not in cols


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, "region_revenue", sf_dir)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region at minimum


def test_partial_aggregation_before_exchange(spark, sf_dir):
    plan = _plan(spark, "pricing_summary", sf_dir)
    assert re.search(r"partial_sum", plan), "no map-side partial aggregation"


def test_semi_anti_joins_not_materialized(spark, sf_dir):
    for name, kind in [
        ("suppliers_with_recent_shipments", "LeftSemi"),
        ("customers_without_orders", "LeftAnti"),
    ]:
        plan = _plan(spark, name, sf_dir)
        assert re.search(kind, plan, re.IGNORECASE) or "Join" in plan, name


def test_single_shuffle_for_dedup_window(spark, sf_dir):
    """W1 dedup = exactly one exchange on the partition key, with
    Spark's WindowGroupLimit pruning rank>1 rows map-side BEFORE it."""
    plan = _plan(spark, "first_order_per_customer", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "WindowGroupLimit" in plan


def test_lsh_pipeline_shuffles_ids_not_vectors(spark, sf_dir):
    """The candidate dedup exchange must not carry embedding arrays."""
    from pyspark.sql import functions as F

    from lakehouse_dba_tools_spark.similarity.search import embedding_near_dups
    from lakehouse_dba_tools_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _explain(
        spark,
        embedding_near_dups(
            emb.filter(F.col("vec_id") < 600),
            threshold=0.4, n_planes=3, n_tables=24, dim=64, seed=42,
        ),
    )
    for ex in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])", plan):
        inputs = ex.group(1)
        if "id_a" in inputs and "id_b" in inputs:
            assert "_v" not in inputs and "va" not in inputs and "vb" not in inputs


def test_decontamination_broadcasts_eval_vocabulary(spark, sf_dir):
    """The training side must probe a BROADCAST eval-shingle set — a
    shuffled (sort-merge) join here would move the exploded training
    n-grams, which is exactly what must not happen at 100 TB."""
    plan = _plan(spark, "doc_decontamination", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_sample_broadcasts_rates(spark, sf_dir):
    """Pass 2 of mixture sampling joins docs against the per-source
    rate table — 20 rows, must broadcast; docs must never shuffle."""
    plan = _plan(spark, "corpus_mixture_sample", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_training_order_window_is_partitioned(spark, sf_dir):
    """The shuffle-order ranking must partition by bucket — a global
    (unpartitioned) window is a single-reducer bottleneck."""
    plan = _plan(spark, "doc_training_order", sf_dir)
    assert "SinglePartition" not in plan


def test_tpch_star_joins_dims_broadcast(spark, sf_dir):
    """The full-suite star queries keep their scale shape: the
    fixed-cardinality dims (nation/region) broadcast by explicit hint,
    and AQE broadcasts the small SF-scaling sides at fixture scale. At
    most one SortMergeJoin may survive AQE per query — the join whose
    BOTH sides scale with SF (e.g. q5's lineitem⋈supplier), which is
    exactly the join that must NOT be a forced broadcast at sf1000."""
    for name in ("q5_local_supplier_revenue", "q8_market_share", "q9_product_profit"):
        df = QUERIES[name](spark, sf_dir)
        df.collect()  # let AQE finalize join strategies from runtime sizes
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert plan.count("SortMergeJoin") <= 1, name


def test_no_forced_broadcast_on_sf_scaling_tables():
    """Regression guard for the round-4 scale-killer: TPC-H customer/
    part/supplier grow linearly with scale factor (150k/200k/10k rows ×
    SF), so an explicit F.broadcast on them overrides both the
    autoBroadcastJoinThreshold and AQE demotion — at sf1000 the plan
    would attempt to broadcast tens of GB and die. Only fixed-size
    sides (nation/region/pricing, 1-row aggregates, bounded query sets)
    may carry the hint; SF-scaling tables are CBO/AQE-sized."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "lakehouse_dba_tools_spark"
    pat = re.compile(r"F\.broadcast\(\s*(cust|part|sup|supp|bad_sup|sup_nat)\b")
    bad = [
        f"{f.relative_to(pkg)}:{i}: {line.strip()}"
        for f in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not bad, f"forced broadcast on SF-scaling tables: {bad}"


def test_tpch_topk_uses_take_ordered(spark, sf_dir):
    """q3/q10's LIMIT-after-ORDER BY must plan as TakeOrderedAndProject
    (per-partition heap + merge), never a global sort."""
    for name in ("q3_shipping_priority", "q10_returned_items"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name
        assert "Sort " not in plan.replace("SortMergeJoin", ""), name


def test_aqe_splits_skewed_join_partition(spark):
    """The automatic half of the skew story (salted_join is the manual
    half): AQE's runtime skew-split must fire on a hot-key sort-merge
    join — SortMergeJoin(skew=true) + AQEShuffleRead skewed in the
    FINAL adaptive plan. Thresholds are lowered to make local-scale
    shuffle sizes eligible; values are drawn from rand() so lz4 can't
    compress the hot partition below the skew threshold."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "20000",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "10000",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 200_000).select(
            F.lit(0).alias("k"), (F.rand(5) * 1e9).cast("long").alias("v")
        ).union(
            spark.range(1, 100).select(F.col("id").alias("k"), F.col("id").alias("v"))
        )
        other = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(other, "k").select(F.sum("v").alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime row-level semi-join reduction: with a selective dim
    filter, Catalyst injects bloom_filter_agg on the dim side and a
    might_contain filter onto the FACT scan — rows that cannot join
    die before the shuffle. Thresholds lowered so local fixture sizes
    qualify (production defaults: 10 MB creation / 10 GB application
    side)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_span_dedup_shuffles_digests_not_text(spark, sf_dir):
    """Every KEYED exchange of exact-substring dedup (the span_hash
    group/join and the per-doc rollups) carries only digests, ids and
    counts — document bodies and token arrays never ride a hash
    shuffle (SCALE.md round-6 continuation: at 100 TB text is ~1000×
    the digest). The only exchange allowed to carry text is fan_out's
    round-robin repartition of the raw scan, which is a no-op on a
    many-split 100 TB scan."""
    for name in ("exact_substring_spans", "exact_substring_dedup_clean"):
        plan = _plan(spark, name, sf_dir)
        keyed = 0
        for ex in re.finditer(r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])", plan):
            inputs = ex.group(1)
            if "span_hash" in inputs or "s0#" in inputs or "n_spans" in inputs:
                keyed += 1
                assert "text#" not in inputs, f"{name} shuffles raw text"
                assert "_t#" not in inputs, f"{name} shuffles token arrays"
        assert keyed >= 2, f"{name}: expected keyed exchanges in plan"


def test_lsh_index_query_never_shuffles_text(spark, tmp_path):
    """Persisted-index dedup: document TEXT never enters a shuffle —
    the band join carries (band_idx, band_key, id) and the verify
    joins carry ids + hashed-shingle arrays read from the index."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        query_lsh_index,
    )

    docs = spark.createDataFrame(
        [(i, f"some document body number {i} with shared words") for i in range(8)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    build_lsh_index(docs, path, num_perm=32, bands=8, seed=7)
    out = query_lsh_index(spark, docs.limit(2), path, threshold=0.5)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # fan_out's round-robin repartition of the INPUT batch legitimately
    # carries text (payload = the batch itself, for CPU-parallel
    # shingling); every hash-partitioned exchange (join/agg shuffles,
    # the ones that scale with candidate volume) must be text-free.
    for ex in re.finditer(
        r"\(\d+\) Exchange\n(Input \[\d+\]: \[[^\]]*\])\nArguments: (\w+)", plan
    ):
        if ex.group(2) == "hashpartitioning":
            assert "text" not in ex.group(1)

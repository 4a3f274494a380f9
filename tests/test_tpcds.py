"""TPC-DS tier tests: generator schema fidelity, partition-count
determinism, FK join domains, and the plan shapes the 100 TB design
depends on (dims broadcast by size, one fact shuffle, top-k pushdown),
pinned on the checked DataFrame composites and on official v2.13 texts.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F
from pyspark.sql.types import CharType, StringType, VarcharType

from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES, ensure_gate_export
from lakehouse_dba_tools_spark.datagen.generator import gen_store_sales
from lakehouse_dba_tools_spark.datagen.schemas import schema_for
from lakehouse_dba_tools_spark.datagen.tpcds import (
    CD_ROWS,
    gen_customer_demographics,
    gen_date_dim,
    gen_item,
    gen_promotion,
    gen_store,
)
from lakehouse_dba_tools_spark.registry import QUERIES, load_all
from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS, CORPUS_EXT

load_all()


def _generators(spark):
    return {
        "date_dim": gen_date_dim(spark, n_days=60),
        "item": gen_item(spark, 500),
        "store": gen_store(spark),
        "customer_demographics": gen_customer_demographics(spark),
        "promotion": gen_promotion(spark),
        "store_sales": gen_store_sales(spark, 1_000),
    }


def test_generators_match_spec_schemas(spark):
    """Every generator emits the FULL spec column list, in spec order,
    with spec types (char/varchar as string — see tpcds.py docstring)."""
    for table, df in _generators(spark).items():
        spec = schema_for(table).fields
        assert [f.name for f in df.schema.fields] == [f.name for f in spec], table
        for have, want in zip(df.schema.fields, spec):
            expected = (
                StringType()
                if isinstance(want.dataType, (CharType, VarcharType))
                else want.dataType
            )
            assert have.dataType == expected, f"{table}.{want.name}"


def test_store_sales_rollup_partition_invariant(spark):
    """The determinism claim behind every pinned VALUES oracle: data is
    a pure function of row id, so any partitioning gives the same rows."""
    a = (
        gen_store_sales(spark, 20_000, partitions=4)
        .groupBy("ss_store_sk")
        .agg(F.sum("ss_ext_sales_price").alias("s"), F.count("*").alias("n"))
    )
    b = (
        gen_store_sales(spark, 20_000, partitions=13)
        .groupBy("ss_store_sk")
        .agg(F.sum("ss_ext_sales_price").alias("s"), F.count("*").alias("n"))
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_date_dim_julian_convention(spark):
    row = gen_date_dim(spark, n_days=3).orderBy("d_date_sk").first()
    assert row.d_date_sk == 2450815
    assert str(row.d_date) == "1998-01-01"
    assert row.d_year == 1998 and row.d_moy == 1 and row.d_holiday == "Y"


def test_customer_demographics_exact_cross_product(spark):
    cd = gen_customer_demographics(spark)
    demo_cols = [c for c in cd.columns if c != "cd_demo_sk"]
    got = cd.agg(
        F.count("*").alias("n"),
        F.countDistinct(*demo_cols).alias("combos"),
        F.countDistinct("cd_demo_sk").alias("sks"),
    ).first()
    assert got.n == CD_ROWS
    assert got.combos == CD_ROWS  # every row a distinct combination
    assert got.sks == CD_ROWS


def test_store_sales_fk_domains(spark):
    """Fact keys land inside the dimension key domains (star joins
    resolve; money identities hold exactly in decimal)."""
    ss = gen_store_sales(spark, 5_000)
    bounds = ss.agg(
        F.min("ss_sold_date_sk"),
        F.max("ss_sold_date_sk"),
        F.min("ss_item_sk"),
        F.max("ss_item_sk"),
        F.min("ss_store_sk"),
        F.max("ss_store_sk"),
        F.min("ss_cdemo_sk"),
        F.max("ss_cdemo_sk"),
        F.min("ss_promo_sk"),
        F.max("ss_promo_sk"),
    ).first()
    assert 2450815 <= bounds[0] and bounds[1] < 2450815 + 730
    assert 1 <= bounds[2] and bounds[3] <= 18_000
    assert 1 <= bounds[4] and bounds[5] <= 8
    assert 1 <= bounds[6] and bounds[7] <= CD_ROWS
    assert 1 <= bounds[8] and bounds[9] <= 300
    violations = ss.where(
        (F.col("ss_ext_list_price") != F.round(F.col("ss_list_price") * F.col("ss_quantity"), 2))
        | (F.col("ss_net_paid") != F.col("ss_ext_sales_price") - F.col("ss_coupon_amt"))
        | (
            F.col("ss_ext_discount_amt")
            != F.col("ss_ext_list_price") - F.col("ss_ext_sales_price")
        )
    ).count()
    assert violations == 0


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _plan(spark, name, sf_dir):
    return _explain(QUERIES[name](spark, sf_dir))


def _text_plan(spark, q: str) -> str:
    """Plan of official TPC-DS text ``q`` over the gate export's parquet
    views — the form the tpcds_sqltext_* queries run."""
    wh = ensure_gate_export(spark)
    for t in CORE_TABLES:
        spark.read.parquet(f"{wh}/{t}").createOrReplaceTempView(t)
    return _explain(spark.sql({**CORPUS, **CORPUS_EXT}[q]))


# ---------------------------------------------------------------------------
# Round-5 expansion: time/household/address/customer/returns generators.
# ---------------------------------------------------------------------------

from lakehouse_dba_tools_spark.datagen.tpcds import (  # noqa: E402
    HD_ROWS,
    gen_customer_address,
    gen_customer_ds,
    gen_household_demographics,
    gen_income_band,
    gen_reason,
    gen_store_returns,
    gen_time_dim,
)


def _new_generators(spark):
    return {
        "time_dim": gen_time_dim(spark),
        "household_demographics": gen_household_demographics(spark),
        "income_band": gen_income_band(spark),
        "customer_address": gen_customer_address(spark, 500),
        "customer": gen_customer_ds(spark, 500),
        "reason": gen_reason(spark),
        "store_returns": gen_store_returns(spark, 2_000),
    }


def test_new_generators_match_spec_schemas(spark):
    from pyspark.sql.types import CharType, StringType, VarcharType

    for table, df in _new_generators(spark).items():
        spec = schema_for(table).fields
        assert [f.name for f in df.schema.fields] == [f.name for f in spec], table
        for have, want in zip(df.schema.fields, spec):
            expected = (
                StringType()
                if isinstance(want.dataType, (CharType, VarcharType))
                else want.dataType
            )
            assert have.dataType == expected, f"{table}.{want.name}"


def test_time_dim_clock_algebra(spark):
    """86,400 rows (spec fixed size), sk = seconds-since-midnight, and
    the hour/minute/second decomposition reassembles the key."""
    td = gen_time_dim(spark)
    assert td.count() == 86_400
    bad = td.where(
        F.col("t_hour") * 3600 + F.col("t_minute") * 60 + F.col("t_second")
        != F.col("t_time_sk")
    ).count()
    assert bad == 0
    ampm = dict(td.groupBy("t_am_pm").count().collect())
    assert ampm == {"AM": 43_200, "PM": 43_200}


def test_household_demographics_cross_product(spark):
    """7,200 rows, each (income_band, buy_potential, dep, vehicle)
    combination exactly once — the spec's cross-product contract."""
    hd = gen_household_demographics(spark)
    assert hd.count() == HD_ROWS
    assert (
        hd.select("hd_income_band_sk", "hd_buy_potential", "hd_dep_count", "hd_vehicle_count")
        .distinct()
        .count()
        == HD_ROWS
    )
    bounds = hd.agg(
        F.min("hd_income_band_sk"), F.max("hd_income_band_sk"),
        F.min("hd_dep_count"), F.max("hd_dep_count"),
        F.min("hd_vehicle_count"), F.max("hd_vehicle_count"),
    ).first()
    assert (bounds[0], bounds[1]) == (1, 20)
    assert (bounds[2], bounds[3]) == (0, 9)
    assert (bounds[4], bounds[5]) == (-1, 4)
    # every hd_income_band_sk resolves in income_band
    ib = gen_income_band(spark)
    assert hd.join(ib, hd.hd_income_band_sk == ib.ib_income_band_sk).count() == HD_ROWS


def test_store_returns_derive_from_sales(spark):
    """Every return joins its originating sales line on (ticket, item)
    with quantity ≤ sold quantity, and the spec money identities hold
    exactly in decimal: amt_inc_tax = amt + tax and the refund split
    (cash + reversed charge + store credit) re-sums to the return amt."""
    n = 5_000
    ss = gen_store_sales(spark, n)
    sr = gen_store_returns(spark, n)
    cnt = sr.count()
    # ~1/10 sample, loose band
    assert n / 20 < cnt < n / 5
    joined = sr.join(
        ss,
        (sr.sr_ticket_number == ss.ss_ticket_number)
        & (sr.sr_item_sk == ss.ss_item_sk)
        & (sr.sr_customer_sk == ss.ss_customer_sk),
    )
    assert joined.count() >= cnt  # every return resolves (ticket+item may repeat)
    bad_qty = joined.where(F.col("sr_return_quantity") > F.col("ss_quantity")).count()
    assert bad_qty == 0
    bad_money = sr.where(
        (F.col("sr_return_amt_inc_tax") != F.col("sr_return_amt") + F.col("sr_return_tax"))
        | (
            F.col("sr_refunded_cash") + F.col("sr_reversed_charge") + F.col("sr_store_credit")
            != F.col("sr_return_amt")
        )
    ).count()
    assert bad_money == 0
    # returned date lands inside the generated date_dim span
    dd = gen_date_dim(spark)
    unresolved = sr.join(dd, sr.sr_returned_date_sk == dd.d_date_sk, "left_anti").count()
    assert unresolved == 0


def test_new_generators_partition_invariant(spark):
    """Same rows under any partitioning — the pinned-oracle argument
    extended to the derived store_returns (content-hashed, not id-hashed)."""
    a = (
        gen_store_returns(spark, 3_000, partitions=2)
        .groupBy("sr_store_sk")
        .agg(F.sum("sr_return_amt").alias("s"), F.count("*").alias("n"))
    )
    b = (
        gen_store_returns(spark, 3_000, partitions=17)
        .groupBy("sr_store_sk")
        .agg(F.sum("sr_return_amt").alias("s"), F.count("*").alias("n"))
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# Channel tier: catalog/web facts + returns + inventory (full 24 tables).
# ---------------------------------------------------------------------------

from lakehouse_dba_tools_spark.datagen.tpcds_channels import (  # noqa: E402
    gen_call_center,
    gen_catalog_page,
    gen_catalog_returns,
    gen_catalog_sales,
    gen_inventory,
    gen_ship_mode,
    gen_warehouse,
    gen_web_page,
    gen_web_returns,
    gen_web_sales,
    gen_web_site,
)


def _channel_generators(spark):
    return {
        "warehouse": gen_warehouse(spark),
        "ship_mode": gen_ship_mode(spark),
        "web_site": gen_web_site(spark),
        "web_page": gen_web_page(spark),
        "call_center": gen_call_center(spark),
        "catalog_page": gen_catalog_page(spark, 500),
        "catalog_sales": gen_catalog_sales(spark, 1_000),
        "web_sales": gen_web_sales(spark, 1_000),
        "catalog_returns": gen_catalog_returns(spark, 1_000),
        "web_returns": gen_web_returns(spark, 1_000),
        "inventory": gen_inventory(spark, 50, 5, 4),
    }


def test_channel_generators_match_spec_schemas(spark):
    """With these 11 the full 24-table TPC-DS warehouse is generatable
    (reference TPC:361-371); same conformance contract as the rest."""
    from pyspark.sql.types import CharType, StringType, VarcharType

    for table, df in _channel_generators(spark).items():
        spec = schema_for(table).fields
        assert [f.name for f in df.schema.fields] == [f.name for f in spec], table
        for have, want in zip(df.schema.fields, spec):
            expected = (
                StringType()
                if isinstance(want.dataType, (CharType, VarcharType))
                else want.dataType
            )
            assert have.dataType == expected, f"{table}.{want.name}"


def test_all_24_tpcds_tables_generatable(spark):
    """Every table in the spec catalog has a generator producing ≥1 row."""
    from lakehouse_dba_tools_spark.datagen.schemas import TPCDS_SCHEMAS
    from lakehouse_dba_tools_spark.datagen.tpcds import (
        gen_customer_address as _ca,
        gen_customer_ds as _cu,
        gen_household_demographics as _hd,
        gen_income_band as _ib,
        gen_reason as _re,
        gen_store_returns as _sr,
        gen_time_dim as _td,
    )

    dfs = {
        **_generators(spark),
        **_new_generators(spark),
        **_channel_generators(spark),
    }
    missing = set(TPCDS_SCHEMAS) - set(dfs)
    assert not missing, f"tables without generators: {sorted(missing)}"
    for t in ("catalog_sales", "inventory", "ship_mode"):
        assert dfs[t].limit(1).count() == 1, t


def test_catalog_sales_money_identities(spark):
    """The spec identities extend to the shipping tier: the
    net_paid_inc_* ladder and net_profit hold exactly in decimal."""
    cs = gen_catalog_sales(spark, 3_000)
    bad = cs.where(
        (F.col("cs_net_paid") != F.col("cs_ext_sales_price") - F.col("cs_coupon_amt"))
        | (F.col("cs_net_paid_inc_tax") != F.col("cs_net_paid") + F.col("cs_ext_tax"))
        | (F.col("cs_net_paid_inc_ship") != F.col("cs_net_paid") + F.col("cs_ext_ship_cost"))
        | (
            F.col("cs_net_paid_inc_ship_tax")
            != F.col("cs_net_paid") + F.col("cs_ext_ship_cost") + F.col("cs_ext_tax")
        )
        | (F.col("cs_net_profit") != F.col("cs_net_paid") - F.col("cs_ext_wholesale_cost"))
        | (F.col("cs_ship_date_sk") <= F.col("cs_sold_date_sk"))
    ).count()
    assert bad == 0


def test_web_returns_resolve_to_sales(spark):
    """Every web return joins its originating order line and respects
    quantity/money bounds — the content-hash derivation contract."""
    n = 3_000
    ws = gen_web_sales(spark, n)
    wr = gen_web_returns(spark, n)
    cnt = wr.count()
    assert n / 20 < cnt < n / 5
    joined = wr.join(
        ws,
        (wr.wr_order_number == ws.ws_order_number) & (wr.wr_item_sk == ws.ws_item_sk),
    )
    assert joined.count() >= cnt
    assert joined.where(F.col("wr_return_quantity") > F.col("ws_quantity")).count() == 0


def test_inventory_exact_grid(spark):
    """inventory is the exact (week, item, warehouse) cross grid."""
    inv = gen_inventory(spark, n_items=20, n_warehouses=3, n_weeks=5)
    assert inv.count() == 20 * 3 * 5
    assert inv.select("inv_date_sk", "inv_item_sk", "inv_warehouse_sk").distinct().count() == 300
    dd = gen_date_dim(spark)
    assert inv.join(dd, inv.inv_date_sk == dd.d_date_sk, "left_anti").count() == 0


def test_channel_facts_partition_invariant(spark):
    a = (
        gen_catalog_sales(spark, 3_000, partitions=3)
        .groupBy("cs_warehouse_sk")
        .agg(F.sum("cs_net_paid").alias("s"), F.count("*").alias("n"))
    )
    b = (
        gen_catalog_sales(spark, 3_000, partitions=13)
        .groupBy("cs_warehouse_sk")
        .agg(F.sum("cs_net_paid").alias("s"), F.count("*").alias("n"))
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_q16_semi_anti_plan(spark, sf_dir):
    """q16's scale contract: the EXISTS/NOT EXISTS pair must plan as
    semi/anti joins carrying only order numbers — no fact×fact join."""
    plan = _plan(spark, "tpcds_q16_catalog_order_spread", sf_dir)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q51_windows_on_rollup_not_fact(spark, sf_dir):
    """q51's cumulative windows must run over the (item, day) rollup —
    each channel aggregates before its window, and the crossover is a
    single full-outer join of the two reduced streams."""
    plan = _plan(spark, "tpcds_q51_cumulative_crossover", sf_dir)
    assert "FullOuter" in plan
    # one cumulative window per channel + the carry-forward window
    assert plan.count("Window") >= 3
    # the formatted plan is outermost-first: the channel hash-aggs
    # appear after (i.e. beneath) the windows that consume them
    assert "HashAggregate" in plan


def test_q67_rank_partitions_rollup_output(spark, sf_dir):
    """q67: ROLLUP expands inside the agg pipeline; the rank window
    runs over reduced rollup rows partitioned by category."""
    plan = _plan(spark, "tpcds_q67_rollup_topk_items", sf_dir)
    assert "Expand" in plan
    assert "Window" in plan


def _op_count(plan: str, op: str) -> int:
    return len(re.findall(r"\(\d+\) " + op + r"\b", plan))


def test_yoy_folds_single_fact_pipeline(spark, sf_dir):
    """q4's year_total fold: each fact pipeline executes ONCE per
    channel — one aggregation exchange per channel (3), and the source
    pipelines (Range generators at the gate scale) appear once per
    table (ss, cs, ws, 3×date_dim, customer = 7), not once per
    self-join leg. A regression to the filter-then-self-join form
    doubles both counts."""
    plan = _plan(spark, "tpcds_q4_three_channel_growth", sf_dir)
    assert _op_count(plan, "Exchange") <= 3
    assert _op_count(plan, "Range") <= 7


# ---------------------------------------------------------------------------
# Plan pins on the official v2.13 texts (workload/tpcds_corpus.py) as
# spark.sql plans them over the parquet warehouse.
# ---------------------------------------------------------------------------


def test_q3_plan_single_fact_shuffle(spark):
    """The rollup family's scale contract: dims broadcast from SIZE
    ESTIMATES (the text carries no hints), the fact is reduced by
    exactly one shuffle exchange (the hash-agg), and the top-k runs as
    TakeOrderedAndProject, never a global sort."""
    plan = _text_plan(spark, "q03")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, f"expected 1 shuffle, saw {len(shuffles)}"
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"partial_sum", plan), "no map-side partial aggregation"


def test_q98_window_over_rollup(spark):
    """q98's window must partition the ROLLED-UP rows, not the fact:
    the Window node sits above the final HashAggregate."""
    plan = _text_plan(spark, "q98")
    assert "Window" in plan
    win_pos = plan.find("Window")
    agg_pos = plan.find("HashAggregate")
    assert win_pos != -1 and agg_pos != -1
    # formatted plans print the tree root-first: the Window (downstream
    # of the agg) must appear before HashAggregate in the tree text.
    assert win_pos < agg_pos


def test_q96_dims_broadcast_by_size(spark):
    """time_dim/household_demographics/store are fixed-size: all three
    must come in as broadcast joins with zero fact shuffles before the
    final count."""
    plan = _text_plan(spark, "q96")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_q38_intersect_on_distinct_keys(spark):
    """The INTERSECT chain must operate on distinct customer keys
    (aggregate-then-intersect), never on raw fact rows."""
    plan = _text_plan(spark, "q38")
    assert "HashAggregate" in plan
    # intersect lowers to LeftSemi joins over the distinct sets
    assert "LeftSemi" in plan


def test_q70_rank_over_rollup(spark):
    """q70: ROLLUP expands inside one agg pipeline; the top-state
    restriction plans as a semi join probing only state keys."""
    plan = _text_plan(spark, "q70")
    assert "Expand" in plan
    assert "LeftSemi" in plan
    assert "Window" in plan


def test_q87_except_on_distinct_triples(spark):
    """q87's EXCEPT chain must deduplicate each channel before the set
    difference (aggregate-then-anti-join), never anti-join fact rows."""
    plan = _text_plan(spark, "q87")
    assert "LeftAnti" in plan
    assert "HashAggregate" in plan


def test_q49_ranks_over_reduced_channels(spark):
    """q49: each channel joins returns to sales and aggregates per item
    BEFORE ranking; the union carries only ranked per-item rows."""
    plan = _text_plan(spark, "q49")
    assert "Union" in plan
    assert plan.count("Window") >= 3
    assert "HashAggregate" in plan


def test_q72_demographics_filter_before_inventory_join(spark):
    """q72: the promotion and catalog_returns probes stay left joins
    (the spec's outer-join semantics survive the optimizer)."""
    plan = _text_plan(spark, "q72")
    assert "LeftOuter" in plan


def test_q61_single_1x1_crossjoin(spark):
    """q61's ratio join multiplies two 1-row aggregates — the plan's
    cartesian/broadcast-nested-loop join must sit above two final
    HashAggregates, never above fact rows."""
    plan = _text_plan(spark, "q61")
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per leg


def test_q95_semi_joins_on_order_numbers(spark):
    """q95: both IN-subquery probes lower to left-semi joins carrying
    bare order numbers."""
    plan = _text_plan(spark, "q95")
    assert plan.count("LeftSemi") >= 2
    assert "HashAggregate" in plan


def test_q25_chain_joins_on_natural_keys(spark):
    """q25's three-fact chain must join on natural keys (ticket+item
    for returns, customer+item for the repurchase) — no cartesian or
    nested-loop fallback anywhere."""
    plan = _text_plan(spark, "q25")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q85_demographic_pair_single_fact_join(spark):
    """q85: returns join sales on (item, order); the cd1/cd2 pair are
    key lookups, not a self-cross of the demographics dim."""
    plan = _text_plan(spark, "q85")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q44_rank_join_on_reduced_rows(spark):
    """q44: both rankings window a per-item rollup, not fact rows."""
    plan = _text_plan(spark, "q44")
    assert plan.count("Window") >= 2
    assert "HashAggregate" in plan


def test_q58_three_way_join_on_rollups(spark):
    """q58: the 3-way balance join runs on per-item channel rollups —
    each channel hash-aggregates before any cross-channel join."""
    plan = _text_plan(spark, "q58")
    assert plan.count("HashAggregate") >= 6  # partial+final × 3 channels


def test_q64_composite_no_cartesian(spark):
    """q64 — the largest composite text: every join is keyed; no
    cartesian or nested-loop join anywhere."""
    plan = _text_plan(spark, "q64")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q76_null_slices_before_union(spark):
    """q76: each channel filters to its null-key slice BEFORE the
    union — the union inputs are filtered projections."""
    plan = _text_plan(spark, "q76")
    assert "Union" in plan
    assert "isnull" in plan.lower()

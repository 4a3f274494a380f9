"""TPC-DS query tier: the official v2.13 texts through ``spark.sql``,
plus five checked DataFrame composites.

The reference's stress harness runs the 99 TPC-DS v2.13 queries
against dsdgen-built warehouses
(`evaluation_tools/dbstress__Current.py:93-103` loads
`queries/tpcds_2.13/*.sql`). This module registers nine queries:

- Official texts (``workload/tpcds_corpus.py``; 27 in ``CORPUS`` plus
  72 in ``CORPUS_EXT``) run through Spark's SQL front end over the
  24-table warehouse exported as parquet and registered as views:
  ``tpcds_sqltext_stress`` (the 27 texts through the parallel
  workload harness), ``tpcds_sqltext_extended`` (the 72 extended
  texts, once each) and ``tpcds_sqltext_extended_checked`` (a
  five-text slice of the extended corpus in the checked set). Each
  oracle is DuckDB executing the same texts over the same export and
  pinning per-text row counts.
- Five DataFrame composites keep the checked DataFrame-API coverage of
  the harder TPC-DS shapes: q7 (demographics star), q16 (EXISTS /
  NOT EXISTS as semi/anti joins), q4 (three-channel year-over-year
  growth), q51 (cumulative-window crossover over a full outer join)
  and q67 (rank over a ROLLUP). Each oracle is DuckDB executing
  adapted TPC-DS SQL over the exported gate warehouse.
- ``tpcds_warehouse_build_audit`` writes the 24-table warehouse,
  reads it back and reports per-table row counts; DuckDB recounts
  the same files.

Scale design:
- The fact tables are the only SF-scaling sides; they are never
  broadcast, and every composite reduces each fact with one
  hash-aggregate after its dimension filters.
- date_dim, store and promotion are fixed-size dims that AQE/Catalyst
  broadcast from size estimates; item and customer_demographics are
  left to the optimizer (no forced ``F.broadcast``).
- At the gate (sf0.01) ``scale_for`` is 1 and the generators equal the
  parquet export byte-for-byte, so the composites' oracles see the
  same rows as the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.datagen.generator import gen_store_sales
from lakehouse_dba_tools_spark.datagen.tpcds import (
    gen_customer_demographics,
    gen_customer_ds,
    gen_date_dim,
    gen_item,
    gen_promotion,
    gen_store,
)
from lakehouse_dba_tools_spark.datagen.tpcds_channels import (
    gen_catalog_returns,
    gen_catalog_sales,
    gen_web_sales,
)
from lakehouse_dba_tools_spark.registry import register
from lakehouse_dba_tools_spark.session import scoped_confs

# Gate fact sizes: big enough that every group in the checked
# composites is multi-row, small enough for the sf0.01 gate. Larger
# fixtures scale them via scale_for(sf_dir); datagen/export.py writes
# the gate warehouse with the same sizes.
SS_ROWS = 200_000
CS_ROWS = 120_000
WS_ROWS = 120_000


def _sf_scale(sf_dir: str) -> int:
    from lakehouse_dba_tools_spark.datagen.export import scale_for

    return scale_for(sf_dir)


def _ss(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gen_store_sales(spark, SS_ROWS * _sf_scale(sf_dir), seed=100)


def _cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gen_catalog_sales(spark, CS_ROWS * _sf_scale(sf_dir), seed=100)


def _cr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gen_catalog_returns(spark, CS_ROWS * _sf_scale(sf_dir), seed=100)


def _ws(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gen_web_sales(spark, WS_ROWS * _sf_scale(sf_dir), seed=100)


def _star(spark: SparkSession, sf_dir: str = ""):
    """The generated TPC-DS star: fact + the dims this tier touches."""
    ss = _ss(spark, sf_dir)
    dd = gen_date_dim(spark)
    it = gen_item(spark, 18_000, seed=100)
    return ss, dd, it


def _gate(spark: SparkSession) -> None:
    """Queries with an INDEPENDENT oracle (DuckDB executing real
    adapted TPC-DS SQL over the exported gate warehouse,
    datagen/export.py) must guarantee the export exists before the
    oracle runs — the driver runs the Spark side first, so an eager
    ensure here is sufficient. No-op after the first call (marker
    stat)."""
    from lakehouse_dba_tools_spark.datagen.export import ensure_gate_export

    ensure_gate_export(spark)


def _wh_sql(sql: str, *tables: str) -> str:
    """Build an independent oracle: real (adapted) TPC-DS SQL text
    over the exported parquet warehouse, so the oracle exercises
    DuckDB's own join/filter/aggregate semantics."""
    from lakehouse_dba_tools_spark.datagen.export import with_tables

    return with_tables(sql, *tables)


def _money(col, ndigits: int = 2):
    """Exact-decimal sum → round → double, the hash-stable money path."""
    return F.round(F.sum(col), ndigits).cast("double")


@register(
    "tpcds_q7_demographics_star",
    _wh_sql(
        """
    SELECT i_item_id,
           CAST(round(avg(ss_quantity), 4) AS DOUBLE) AS agg1,
           CAST(round(avg(ss_list_price), 4) AS DOUBLE) AS agg2,
           CAST(round(avg(ss_coupon_amt), 4) AS DOUBLE) AS agg3,
           CAST(round(avg(ss_sales_price), 4) AS DOUBLE) AS agg4
    FROM store_sales,
         customer_demographics,
         date_dim,
         item,
         promotion
    WHERE ss_sold_date_sk = d_date_sk
      AND ss_item_sk = i_item_sk
      AND ss_cdemo_sk = cd_demo_sk
      AND ss_promo_sk = p_promo_sk
      AND cd_gender = 'M'
      AND cd_marital_status = 'S'
      AND cd_education_status = 'College'
      AND (p_channel_email = 'N' OR p_channel_event = 'N')
      AND d_year = 1998
    GROUP BY i_item_id
    ORDER BY i_item_id
    LIMIT 10
    """,
        "store_sales",
        "customer_demographics",
        "date_dim",
        "item",
        "promotion",
    ),
)
def tpcds_q7_demographics_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q7 shape: average sales metrics per item for one
    demographic slice in promoted transactions. Five-table star; the
    1.92M-row demographics cross-product is filtered to 1/70th by its
    predicate BEFORE the join (predicate pushdown), so the join-side
    stays small without any forced broadcast.

    INDEPENDENT oracle: DuckDB executes the real q7 text
    (adapted: d_year=1998, round(4) doubles, LIMIT 10; i_item_id order
    is unique) over the exported gate warehouse."""
    _gate(spark)
    ss, dd, it = _star(spark, sf_dir)
    cd = gen_customer_demographics(spark)
    pr = gen_promotion(spark)
    return (
        ss.join(cd, ss.ss_cdemo_sk == cd.cd_demo_sk)
        .join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .join(pr, ss.ss_promo_sk == pr.p_promo_sk)
        .where(
            (F.col("cd_gender") == "M")
            & (F.col("cd_marital_status") == "S")
            & (F.col("cd_education_status") == "College")
            & ((F.col("p_channel_email") == "N") | (F.col("p_channel_event") == "N"))
            & (F.col("d_year") == 1998)
        )
        .groupBy("i_item_id")
        .agg(
            F.round(F.avg("ss_quantity"), 4).cast("double").alias("agg1"),
            F.round(F.avg("ss_list_price"), 4).cast("double").alias("agg2"),
            F.round(F.avg("ss_coupon_amt"), 4).cast("double").alias("agg3"),
            F.round(F.avg("ss_sales_price"), 4).cast("double").alias("agg4"),
        )
        .orderBy("i_item_id")
        .limit(10)
    )


@register(
    "tpcds_q16_catalog_order_spread",
    _wh_sql(
        """
    SELECT CAST(count(DISTINCT cs_order_number) AS BIGINT) AS order_count,
           CAST(round(sum(CAST(cs_ext_ship_cost AS DECIMAL(38,12))), 2)
                AS DOUBLE) AS total_shipping_cost,
           CAST(round(sum(CAST(cs_net_profit AS DECIMAL(38,12))), 2)
                AS DOUBLE) AS total_net_profit
    FROM catalog_sales cs1,
         date_dim
    WHERE d_date BETWEEN '1999-02-01' AND CAST('1999-04-02' AS DATE)
      AND cs1.cs_sold_date_sk = d_date_sk
      AND EXISTS
        (SELECT *
         FROM catalog_sales cs2
         WHERE cs1.cs_order_number = cs2.cs_order_number
           AND cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
      AND NOT EXISTS
        (SELECT *
         FROM catalog_returns cr1
         WHERE cs1.cs_order_number = cr1.cr_order_number)
    """,
        "catalog_sales",
        "date_dim",
        "catalog_returns",
    ),
)
def tpcds_q16_catalog_order_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q16 shape: 60-day catalog orders that shipped from MORE
    THAN ONE warehouse (EXISTS) and were never returned (NOT EXISTS) —
    the spec's semi/anti-join pair on order_number, expressed as a
    leftsemi against the >1-warehouse order list and a leftanti against
    catalog_returns. Both probe sides carry only order numbers.

    INDEPENDENT oracle: DuckDB runs the real q16 text in its
    native correlated EXISTS/NOT-EXISTS form (adapted: this tier's
    1999 date window on the sold-date key, exact-decimal sums) — a
    different relational formulation than the engine's semi/anti
    joins, over the exported gate warehouse. Equivalence of "row has
    a same-order different-warehouse sibling" and "order's distinct
    warehouse count > 1" is exactly what the differential checks."""
    _gate(spark)
    cs = _cs(spark, sf_dir)
    cr = _cr(spark, sf_dir)
    dd = gen_date_dim(spark)
    base = cs.join(dd, cs.cs_sold_date_sk == dd.d_date_sk).where(
        F.col("d_date").between("1999-02-01", "1999-04-02")
    )
    multi_wh = (
        cs.groupBy("cs_order_number")
        .agg(F.countDistinct("cs_warehouse_sk").alias("n_wh"))
        .where(F.col("n_wh") > 1)
        .select("cs_order_number")
    )
    filtered = base.join(multi_wh, "cs_order_number", "leftsemi").join(
        cr.select(F.col("cr_order_number").alias("cs_order_number")),
        "cs_order_number",
        "leftanti",
    )
    return filtered.agg(
        F.countDistinct("cs_order_number").cast("bigint").alias("order_count"),
        _money("cs_ext_ship_cost").alias("total_shipping_cost"),
        _money("cs_net_profit").alias("total_net_profit"),
    )


def _wh_audit_oracle() -> str:
    """Cross-engine oracle for the warehouse-build audit: DuckDB opens
    every Spark-written parquet table of the gate export itself and
    recounts, so a schema the writer corrupts, a file DuckDB can't
    parse, or a dropped row fails the hash."""
    from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES, rp

    units = "\n      UNION ALL\n      ".join(
        f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM {rp(t)}"
        for t in sorted(CORE_TABLES)
    )
    return f"SELECT table_name, n_rows FROM (\n      {units}\n    ) ORDER BY table_name"


@register("tpcds_warehouse_build_audit", _wh_audit_oracle())
def tpcds_warehouse_build_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference notebook's end-to-end flow (TPC:361-371 generate →
    write → verify with row counts, TPC:1929-1956): generate the
    24-table TPC-DS warehouse, write every table to parquet
    (datagen/export.py's crash-safe staged writer), read back, and
    report per-table row counts. The read-back count (not the
    in-memory count) is what's reported, so the audit proves the write
    path round-trips every schema — and the oracle makes the check
    cross-engine: DuckDB independently re-opens the same Spark-written
    files and recounts, so a parquet-encoding defect any other engine
    would trip on fails the hash. Export-vs-generator row *content* is
    pinned separately by test_gate_export_equals_generator_output;
    small-file coalesce mechanics by small_file_write_audit."""
    from lakehouse_dba_tools_spark.datagen.export import (
        CORE_TABLES,
        ensure_gate_export,
    )

    root = ensure_gate_export(spark)
    # 24 independent read-back counts (column-less parquet scans, one
    # task-wave each — latency-bound metadata jobs) overlapped from
    # driver threads (indexio.overlap_jobs). The cap is
    # raised above the writer-verb default because these jobs occupy
    # almost no executor capacity: measured min-of-3 at gate SF, cap
    # 24 → 1.56s, cap 4 → 2.02s, and a single union-of-aggregates job
    # → 2.79s (AQE materializes the 24 aggregate stages in waves).
    from lakehouse_dba_tools_spark.operators.indexio import overlap_jobs

    names = sorted(CORE_TABLES)
    counts = overlap_jobs(
        *[
            lambda name=name: spark.read.parquet(f"{root}/{name}").count()
            for name in names
        ],
        max_in_flight=12,
    )
    rows = list(zip(names, counts))
    return spark.createDataFrame(rows, "table_name string, n_rows bigint").orderBy(
        "table_name"
    )


@register(
    "tpcds_q51_cumulative_crossover",
    _wh_sql(
        """
    WITH web_v1 AS (
      SELECT ws_item_sk item_sk, d_date,
             sum(sum(CAST(ws_ext_sales_price AS DECIMAL(38,12))))
               OVER (PARTITION BY ws_item_sk ORDER BY d_date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
      FROM web_sales, date_dim
      WHERE ws_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 1176 AND 1181
      GROUP BY ws_item_sk, d_date),
    store_v1 AS (
      SELECT ss_item_sk item_sk, d_date,
             sum(sum(CAST(ss_ext_sales_price AS DECIMAL(38,12))))
               OVER (PARTITION BY ss_item_sk ORDER BY d_date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cume_sales
      FROM store_sales, date_dim
      WHERE ss_sold_date_sk = d_date_sk AND d_month_seq BETWEEN 1176 AND 1181
      GROUP BY ss_item_sk, d_date),
    y AS (
      SELECT item_sk, d_date,
             max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) web_cumulative,
             max(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) store_cumulative
      FROM (SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk
                        ELSE store.item_sk END item_sk,
                   CASE WHEN web.d_date IS NOT NULL THEN web.d_date
                        ELSE store.d_date END d_date,
                   web.cume_sales web_sales,
                   store.cume_sales store_sales
            FROM web_v1 web FULL OUTER JOIN store_v1 store
              ON (web.item_sk = store.item_sk AND web.d_date = store.d_date)) x)
    SELECT CAST(item_sk AS INT) AS item_sk,
           CAST(d_date AS VARCHAR) AS d_date,
           CAST(round(web_cumulative, 2) AS DOUBLE) AS web_cumulative,
           CAST(round(store_cumulative, 2) AS DOUBLE) AS store_cumulative
    FROM y
    WHERE web_cumulative > store_cumulative
    ORDER BY item_sk, d_date
    LIMIT 20
    """,
        "web_sales",
        "store_sales",
        "date_dim",
    ),
)
def tpcds_q51_cumulative_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape: per-item daily cumulative web vs store revenue,
    full-outer joined on (item, day), keeping days where the web
    running total first exceeds the store running total. The spec's
    trick is reproduced exactly: each channel's cumulative sum is
    computed per item BEFORE the join, and after the full-outer join a
    running ``max`` window carries the most recent non-null cumulative
    forward over days the other channel had no sales (cumulative sums
    are monotone, so max-over-preceding == last seen).

    Scale: both windows partition by item — one hash exchange per
    channel on the reduced (item, day) rollup, never on fact rows; the
    full-outer join keys the same partitioning so AQE can pipeline it.
    """
    _gate(spark)
    ss, dd, _ = _star(spark, sf_dir)
    ws = _ws(spark, sf_dir)
    dates = dd.where(F.col("d_month_seq").between(1176, 1181)).select(
        "d_date_sk", "d_date"
    )

    def channel_cum(fact, date_col, item_col, price_col, prefix):
        daily = (
            fact.join(dates, F.col(date_col) == F.col("d_date_sk"))
            .groupBy(F.col(item_col).alias(f"{prefix}_item_sk"), "d_date")
            .agg(F.sum(price_col).alias("day_sales"))
        )
        w = (
            Window.partitionBy(f"{prefix}_item_sk")
            .orderBy("d_date")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return daily.select(
            f"{prefix}_item_sk",
            F.col("d_date").alias(f"{prefix}_date"),
            F.sum("day_sales").over(w).alias(f"{prefix}_cume"),
        )

    web = channel_cum(ws, "ws_sold_date_sk", "ws_item_sk", "ws_ext_sales_price", "web")
    store = channel_cum(ss, "ss_sold_date_sk", "ss_item_sk", "ss_ext_sales_price", "st")
    joined = web.join(
        store,
        (web.web_item_sk == store.st_item_sk) & (web.web_date == store.st_date),
        "fullouter",
    ).select(
        F.coalesce("web_item_sk", "st_item_sk").alias("item_sk"),
        F.coalesce("web_date", "st_date").alias("d_date"),
        "web_cume",
        "st_cume",
    )
    w2 = (
        Window.partitionBy("item_sk")
        .orderBy("d_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = joined.select(
        "item_sk",
        "d_date",
        F.max("web_cume").over(w2).alias("web_cumulative"),
        F.max("st_cume").over(w2).alias("store_cumulative"),
    )
    return (
        carried.where(F.col("web_cumulative") > F.col("store_cumulative"))
        .select(
            "item_sk",
            F.col("d_date").cast("string").alias("d_date"),
            F.round("web_cumulative", 2).cast("double").alias("web_cumulative"),
            F.round("store_cumulative", 2).cast("double").alias("store_cumulative"),
        )
        .orderBy("item_sk", "d_date")
        .limit(20)
    )


@register(
    "tpcds_q67_rollup_topk_items",
    _wh_sql(
        """
    WITH y AS (
      SELECT i_category, i_class, i_brand, d_qoy, d_moy, s_store_id,
             CAST(round(sum(CAST(ss_sales_price AS DECIMAL(38,12))), 2)
                  AS DOUBLE) AS sumsales
      FROM store_sales, date_dim, item, store
      WHERE ss_sold_date_sk = d_date_sk
        AND ss_item_sk = i_item_sk
        AND ss_store_sk = s_store_sk
        AND d_month_seq BETWEEN 1176 AND 1187
      GROUP BY ROLLUP(i_category, i_class, i_brand, d_qoy, d_moy, s_store_id)),
    ranked AS (
      SELECT i_category, i_class, i_brand,
             CAST(d_qoy AS INT) AS d_qoy, CAST(d_moy AS INT) AS d_moy,
             s_store_id, sumsales,
             CAST(rank() OVER (PARTITION BY i_category
                    ORDER BY sumsales DESC,
                             i_class NULLS FIRST, i_brand NULLS FIRST,
                             d_qoy NULLS FIRST, d_moy NULLS FIRST,
                             s_store_id NULLS FIRST) AS INT) AS rk
      FROM y)
    SELECT * FROM ranked
    WHERE rk <= 3
    ORDER BY i_category NULLS FIRST, rk,
             i_class NULLS FIRST, i_brand NULLS FIRST
    LIMIT 30
    """,
        "store_sales",
        "date_dim",
        "item",
        "store",
    ),
)
def tpcds_q67_rollup_topk_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67 shape: sales rolled up over the full product × time ×
    store hierarchy (ROLLUP), then the top 3 rows per category by a
    rank window over the rollup output — grouped top-k over grouping
    sets.

    Scale: the rollup expands inside one hash-agg pipeline; the rank
    window partitions by category over already-reduced rows. NULL
    category (the grand-total levels) forms its own rank partition,
    exactly as the spec's RANK() OVER (PARTITION BY i_category)."""
    _gate(spark)
    ss, dd, it = _star(spark, sf_dir)
    st = gen_store(spark)
    rolled = (
        ss.join(dd, ss.ss_sold_date_sk == dd.d_date_sk)
        .join(it, ss.ss_item_sk == it.i_item_sk)
        .join(st, ss.ss_store_sk == st.s_store_sk)
        .where(F.col("d_month_seq").between(1176, 1187))
        .rollup("i_category", "i_class", "i_brand", "d_qoy", "d_moy", "s_store_id")
        .agg(_money("ss_sales_price").alias("sumsales"))
    )
    w = Window.partitionBy("i_category").orderBy(
        F.col("sumsales").desc(),
        "i_class",
        "i_brand",
        "d_qoy",
        "d_moy",
        "s_store_id",
    )
    return (
        rolled.select(
            "i_category",
            "i_class",
            "i_brand",
            "d_qoy",
            "d_moy",
            "s_store_id",
            "sumsales",
            F.rank().over(w).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= 3)
        .orderBy("i_category", "rk", "i_class", "i_brand")
        .limit(30)
    )


@register(
    "tpcds_q4_three_channel_growth",
    _wh_sql(
        """
    WITH year_total AS (
      SELECT ss_customer_sk AS customer_sk, d_year,
             CAST(sum(CAST(ss_ext_list_price - ss_ext_wholesale_cost
                           - ss_ext_discount_amt + ss_ext_sales_price
                           AS DECIMAL(38,12))) / 2 AS DOUBLE) AS year_total,
             's' AS sale_type
      FROM store_sales, date_dim
      WHERE ss_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
      GROUP BY ss_customer_sk, d_year
      UNION ALL
      SELECT cs_bill_customer_sk, d_year,
             CAST(sum(CAST(cs_ext_list_price - cs_ext_wholesale_cost
                           - cs_ext_discount_amt + cs_ext_sales_price
                           AS DECIMAL(38,12))) / 2 AS DOUBLE),
             'c'
      FROM catalog_sales, date_dim
      WHERE cs_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
      GROUP BY cs_bill_customer_sk, d_year
      UNION ALL
      SELECT ws_bill_customer_sk, d_year,
             CAST(sum(CAST(ws_ext_list_price - ws_ext_wholesale_cost
                           - ws_ext_discount_amt + ws_ext_sales_price
                           AS DECIMAL(38,12))) / 2 AS DOUBLE),
             'w'
      FROM web_sales, date_dim
      WHERE ws_sold_date_sk = d_date_sk AND d_year IN (1998, 1999)
      GROUP BY ws_bill_customer_sk, d_year)
    SELECT c_customer_id, c_first_name, c_last_name
    FROM year_total t_s_firstyear, year_total t_s_secyear,
         year_total t_c_firstyear, year_total t_c_secyear,
         year_total t_w_firstyear, year_total t_w_secyear,
         customer
    WHERE t_s_secyear.customer_sk = t_s_firstyear.customer_sk
      AND t_s_firstyear.customer_sk = t_c_secyear.customer_sk
      AND t_s_firstyear.customer_sk = t_c_firstyear.customer_sk
      AND t_s_firstyear.customer_sk = t_w_firstyear.customer_sk
      AND t_s_firstyear.customer_sk = t_w_secyear.customer_sk
      AND t_s_firstyear.customer_sk = c_customer_sk
      AND t_s_firstyear.sale_type = 's' AND t_c_firstyear.sale_type = 'c'
      AND t_w_firstyear.sale_type = 'w' AND t_s_secyear.sale_type = 's'
      AND t_c_secyear.sale_type = 'c' AND t_w_secyear.sale_type = 'w'
      AND t_s_firstyear.d_year = 1998 AND t_s_secyear.d_year = 1999
      AND t_c_firstyear.d_year = 1998 AND t_c_secyear.d_year = 1999
      AND t_w_firstyear.d_year = 1998 AND t_w_secyear.d_year = 1999
      AND t_s_firstyear.year_total > 0
      AND t_c_firstyear.year_total > 0
      AND t_w_firstyear.year_total > 0
      AND t_c_secyear.year_total / t_c_firstyear.year_total
          > t_s_secyear.year_total / t_s_firstyear.year_total
      AND t_w_secyear.year_total / t_w_firstyear.year_total
          > t_s_secyear.year_total / t_s_firstyear.year_total
    ORDER BY c_customer_id
    LIMIT 20
    """,
        "store_sales",
        "catalog_sales",
        "web_sales",
        "date_dim",
        "customer",
    ),
)
def tpcds_q4_three_channel_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q4: customers whose catalog AND web spending grew faster
    1998→1999 than their store spending — the q74 year_total self-join
    extended to all three channels (six per-customer rollups joined on
    customer id). Totals use the spec's full price formula
    (((list - wholesale - discount) + sales) / 2)."""
    _gate(spark)
    ss, dd, _ = _star(spark, sf_dir)
    cs = _cs(spark, sf_dir)
    ws = _ws(spark, sf_dir)
    cu = gen_customer_ds(spark)

    # One pass per channel: the spec's year_total self-join (first-year
    # row ⋈ second-year row) would run each fact pipeline TWICE (0
    # ReusedExchange — six fact scans for three channels). Two fixed
    # years fold into conditional partials per customer; requiring both
    # totals non-null is the self-join's both-years-present semantics.
    def year_pair(fact, date_col, cust_col, lp, wc, disc, sp, label):
        total = (
            (F.col(lp) - F.col(wc) - F.col(disc)) + F.col(sp)
        ) / 2
        return (
            fact.join(dd, F.col(date_col) == dd.d_date_sk)
            .where(F.col("d_year").isin(1998, 1999))
            .groupBy(F.col(cust_col).alias("cust_sk"))
            .agg(
                F.sum(F.when(F.col("d_year") == 1998, total)).alias(f"{label}98"),
                F.sum(F.when(F.col("d_year") == 1999, total)).alias(f"{label}99"),
            )
            .where(
                F.col(f"{label}98").isNotNull() & F.col(f"{label}99").isNotNull()
            )
        )

    s = year_pair(ss, "ss_sold_date_sk", "ss_customer_sk",
                  "ss_ext_list_price", "ss_ext_wholesale_cost",
                  "ss_ext_discount_amt", "ss_ext_sales_price", "s")
    c = year_pair(cs, "cs_sold_date_sk", "cs_bill_customer_sk",
                  "cs_ext_list_price", "cs_ext_wholesale_cost",
                  "cs_ext_discount_amt", "cs_ext_sales_price", "c")
    w = year_pair(ws, "ws_sold_date_sk", "ws_bill_customer_sk",
                  "ws_ext_list_price", "ws_ext_wholesale_cost",
                  "ws_ext_discount_amt", "ws_ext_sales_price", "w")
    joined = s.join(c, "cust_sk").join(w, "cust_sk")
    # ratios compared in IEEE double on BOTH engines (the oracle casts
    # its exact-decimal year totals to DOUBLE the same way) so the
    # growth comparison is bit-identical, not decimal-scale-dependent
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    grown = joined.where(
        (F.col("s98") > 0) & (F.col("c98") > 0) & (F.col("w98") > 0)
        & (d("c99") / d("c98") > d("s99") / d("s98"))
        & (d("w99") / d("w98") > d("s99") / d("s98"))
    )
    return (
        grown.join(cu, grown.cust_sk == cu.c_customer_sk)
        .select("c_customer_id", "c_first_name", "c_last_name")
        .orderBy("c_customer_id")
        .limit(20)
    )


def _sqltext_oracle() -> str:
    """Independent oracle for the SQL-text stress: DuckDB executes the
    SAME 27 official texts over the exported gate warehouse and pins
    each unit's row count (LIMIT-ed counts are order-insensitive, so
    rowcounts are engine-stable even where tie order is not)."""
    from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES, with_tables
    from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS

    units = ",\n".join(
        f"u_{name} AS (SELECT count(*) AS c FROM (\n{sql}\n) t_{name})"
        for name, sql in sorted(CORPUS.items())
    )
    two_parallel = {"q03", "q42", "q52", "q55"}
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS unit_name,"
        f" CAST({2 if name in two_parallel else 1} AS BIGINT) AS n_runs,"
        f" CAST({2 if name in two_parallel else 1} AS BIGINT) AS n_ok,"
        f" CAST(c AS BIGINT) AS min_rows,"
        f" CAST(c AS BIGINT) AS max_rows FROM u_{name}"
        for name in sorted(CORPUS)
    )
    return with_tables(f"WITH {units}\n{selects}\nORDER BY unit_name", *CORE_TABLES)


@register("tpcds_sqltext_stress", _sqltext_oracle())
def tpcds_sqltext_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dbstress harness driving REAL TPC-DS v2.13 SQL
    text (`evaluation_tools/dbstress__Current.py:93-175` loads
    `queries/tpcds_2.13/*.sql`, strips comments, fans units over
    parallel connections): all 24 generated tables register as temp
    views, 27 official texts (param-adapted to the generated domains,
    workload/tpcds_corpus.py) run 2-parallel through the thread-pool
    harness via `spark.sql` — exercising Spark's SQL PARSER surface
    (comma joins, correlated EXISTS, ROLLUP-free grouping, quoted-ish
    aliases, derived tables) that the DataFrame tier does not.

    q25/q29's three-date-role chains are legitimately empty at gate SF
    (the (customer, item) re-buy intersection is ~2.6 expected rows
    before month filters); both engines agree on 0.

    Scale: facts are generated at scale_for(sf_dir) (bench = 10× the
    gate); units overlap via unit_parallel=16 (real warehouses serve
    units concurrently — and per-query planning/codegen, the dominant
    cost at this volume, overlaps too). The oracle is DuckDB executing
    the SAME texts over the exported gate warehouse."""
    from lakehouse_dba_tools_spark.datagen.export import (
        CORE_TABLES,
        ensure_export,
    )
    from lakehouse_dba_tools_spark.workload.harness import (
        SqlUnit,
        latency_summary,
        run_workload,
    )
    from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS

    _gate(spark)
    # PARQUET-backed views, not generator views: a 31-query corpus over
    # the same warehouse should scan storage with column pruning and
    # predicate pushdown (what a real warehouse does), not re-run
    # generator projections per query. The export is once-per-machine
    # (marker-cached); at the gate it is byte-identical to the oracle's
    # twin. (Measured at 10× facts: generator views 27s, in-memory
    # cache 15s materialize + 17s run, parquet views win.)
    wh = ensure_export(spark, scale=_sf_scale(sf_dir))
    for name in CORE_TABLES:
        spark.read.parquet(f"{wh}/{name}").createOrReplaceTempView(name)
    # workload-scoped shuffle sizing (D15 via session.scoped_confs —
    # restored on exit): the corpus is many SMALL queries, where 200
    # (vanilla default) or even 32 shuffle partitions is pure
    # task-scheduling overhead per stage. 8 partitions + AQE coalesce
    # matches the data volume. (At 100 TB the same knob goes the other
    # way — sized per workload, not per query.) broadcastTimeout: the
    # oracle pins n_ok == n_runs; at unit_parallel=16 on the shared
    # noisy host one broadcast future outliving the 300s default would
    # fail the gate for a scheduling reason — widen for this scope and
    # let the harness retry once.
    with scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.broadcastTimeout": "1200",
        },
    ):
        # per-unit parallel config like the reference's YAML units
        # (DBS:108-118): the q3 rollup family runs 2 concurrent
        # connections, the long tail 1 — 31 real executions total
        two_parallel = {"q03", "q42", "q52", "q55"}
        units = [
            SqlUnit(name, sql, parallel=2 if name in two_parallel else 1, repeats=1)
            for name, sql in sorted(CORPUS.items())
        ]
        # measured at sf0.1 (warm, min-of-2): unit_parallel 8 → 21.3s,
        # 12 → 19.0s, 16 → 18.4s — planning/codegen overlap keeps
        # improving up to half the core count; results are identical
        # (scheduling only)
        results = run_workload(spark, units, unit_parallel=16, retries=1)
        out = (
            latency_summary(results)
            .select("unit_name", "n_runs", "n_ok", "min_rows", "max_rows")
            .orderBy("unit_name")
        )
        # materialize before uncaching — the summary must not lazily
        # re-run corpus SQL against dropped caches
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


def _sqltext_ext_oracle() -> str:
    """Oracle for the extended SQL-text coverage: DuckDB executes the
    SAME 14 official texts over the exported gate warehouse and pins
    each rowcount (LIMIT-ed result CONTENT is tie-order-specific per
    engine; counts are stable)."""
    from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES, with_tables
    from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS_EXT

    units = ",\n".join(
        f"u_{name} AS (SELECT count(*) AS c FROM (\n{sql}\n) t_{name})"
        for name, sql in sorted(CORPUS_EXT.items())
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS unit_name, CAST(c AS BIGINT) AS n_rows FROM u_{name}"
        for name in sorted(CORPUS_EXT)
    )
    return with_tables(f"WITH {units}\n{selects}\nORDER BY unit_name", *CORE_TABLES)


@register("tpcds_sqltext_extended", _sqltext_ext_oracle())
def tpcds_sqltext_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended official-SQL-text coverage: the 72 TPC-DS v2.13 texts
    beyond the 27 the checked stress query drives (99 total — the
    reference's dbstress corpus surface,
    `evaluation_tools/dbstress__Current.py:93-103`). Each text runs
    ONCE via spark.sql over the parquet-backed warehouse views — this
    is parser/semantics coverage; concurrency stress is
    tpcds_sqltext_stress's axis. Trailing query (diffcheck-only, so
    bench cost is unchanged); a rotating ~20-text window additionally
    carries hard driver signal via tpcds_sqltext_extended_checked."""
    from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES, ensure_export
    from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS_EXT

    _gate(spark)
    wh = ensure_export(spark, scale=_sf_scale(sf_dir))
    for name in CORE_TABLES:
        spark.read.parquet(f"{wh}/{name}").createOrReplaceTempView(name)
    # scalar-subquery/broadcast futures in q6/q32/q44/q92 can outlive
    # the 300s default under shared-host load spikes late in a long
    # battery session; widen the window for this query's scope only
    # (D15 scoped_confs restores both knobs on exit)
    with scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.broadcastTimeout": "1200",
        },
    ):
        rows = []
        for name, sql in sorted(CORPUS_EXT.items()):
            try:
                rows.append((name, spark.sql(sql).count()))
            except Exception:
                # one retry for transient executor/broadcast failures
                # (the dbstress posture: a unit is re-attempted, never
                # silently skipped — a REAL semantic error still
                # raises here and fails the gate)
                rows.append((name, spark.sql(sql).count()))
    return spark.createDataFrame(rows, "unit_name string, n_rows long").orderBy(
        "unit_name"
    )


# The checked slice of the extended corpus: five light,
# operator-diverse texts (household-size buckets, a geo IN/OR zip
# rollup, a manager-series deviation window, an inventory-window item
# probe, an am/pm ratio). All 72 extended texts stay covered by the
# trailing tpcds_sqltext_extended.
EXT_CHECKED: tuple[str, ...] = ("q34", "q45", "q63", "q82", "q90")


def _sqltext_ext_checked_oracle() -> str:
    """DuckDB executes the SAME checked-window texts over the exported
    gate warehouse and pins each rowcount (LIMIT-ed result CONTENT is
    tie-order-specific per engine; counts are stable)."""
    from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES, with_tables
    from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS_EXT

    units = ",\n".join(
        f"u_{name} AS (SELECT count(*) AS c FROM (\n{CORPUS_EXT[name]}\n) t_{name})"
        for name in sorted(EXT_CHECKED)
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS unit_name, CAST(c AS BIGINT) AS n_rows FROM u_{name}"
        for name in sorted(EXT_CHECKED)
    )
    return with_tables(f"WITH {units}\n{selects}\nORDER BY unit_name", *CORE_TABLES)


@register("tpcds_sqltext_extended_checked", _sqltext_ext_checked_oracle())
def tpcds_sqltext_extended_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checked slice of the extended official-SQL-text corpus
    (EXT_CHECKED). The heavy concurrent-harness signal stays with
    tpcds_sqltext_stress's 27 texts, and all 72 extended texts run in
    the trailing tpcds_sqltext_extended. Each text runs ONCE through
    the workload harness, retry-once on transient failures — the
    dbstress posture (`evaluation_tools/dbstress__Current.py:93-103`)."""
    from lakehouse_dba_tools_spark.datagen.export import CORE_TABLES, ensure_export
    from lakehouse_dba_tools_spark.workload.harness import (
        SqlUnit,
        latency_summary,
        run_workload,
    )
    from lakehouse_dba_tools_spark.workload.tpcds_corpus import CORPUS_EXT

    _gate(spark)
    wh = ensure_export(spark, scale=_sf_scale(sf_dir))
    for name in CORE_TABLES:
        spark.read.parquet(f"{wh}/{name}").createOrReplaceTempView(name)
    with scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.broadcastTimeout": "1200",
        },
    ):
        units = [
            SqlUnit(name, CORPUS_EXT[name], parallel=1, repeats=1)
            for name in sorted(EXT_CHECKED)
        ]
        results = run_workload(spark, units, unit_parallel=16, retries=1)
        out = (
            latency_summary(results)
            .select("unit_name", F.col("min_rows").alias("n_rows"))
            .orderBy("unit_name")
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)

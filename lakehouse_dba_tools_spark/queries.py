"""Named query registry: Spark implementation + DuckDB oracle per operator.

Each entry exercises one (or a small composition) of the operators in
SURVEY.md §2 / the north-star extensions, over the driver's synthetic
TPC-H-ish tables. The driver runs the Spark callable and the oracle SQL
side-by-side at sf0.01 and compares row-count + schema + order-
insensitive value hash.

Conventions (hash-stability):
- every computed column is aliased IDENTICALLY in Spark and SQL;
- double aggregates are ``round``-ed (sum-order across partitions is
  nondeterministic in floating point);
- timestamps in outputs are cast to DATE or epoch BIGINT (engine
  formatting differences).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.functions.stable import stable_sum
from lakehouse_dba_tools_spark.operators.dedup import dedup_by_key, latest_per_group
from lakehouse_dba_tools_spark.operators.flatten import json_field
from lakehouse_dba_tools_spark.operators.pivot import pivot_agg
from lakehouse_dba_tools_spark.operators.sessionize import sessionize
from lakehouse_dba_tools_spark.operators.unions import schema_template, union_all
from lakehouse_dba_tools_spark.operators.upsert import merge_upsert
from lakehouse_dba_tools_spark.registry import ORACLE, QUERIES, register  # noqa: F401
from lakehouse_dba_tools_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]


# --------------------------------------------------------------------------
# Reference pillar: grouped aggregation over the fact table (the implied
# TPC corpus — SURVEY.md §2.4). TPC-H Q1 shape: scan → filter (pushed to
# parquet) → hash agg with map-side partials → sort.
# --------------------------------------------------------------------------
@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Multi-way join + top-k (TPC-H Q3 shape). customer scales with SF so
# its join is AQE-sized (no forced hint); the orders⋈lineitem join
# shuffles on the key with AQE skew handling.
# --------------------------------------------------------------------------
@register(
    "top_unshipped_orders",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
    GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Star join through two dimension hops (TPC-H Q5 shape / reference J4
# cost-attribution join) — dims explicitly broadcast.
# --------------------------------------------------------------------------
@register(
    "region_revenue",
    """
    SELECT r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation   ON c_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# W1: dedup-by-key, keep first by ordering (reference QH:232,242).
# --------------------------------------------------------------------------
@register(
    "first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return dedup_by_key(orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]).select(
        "o_custkey", "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
    )


# --------------------------------------------------------------------------
# W2: latest-row-per-group (reference TPC:2231-2244).
# --------------------------------------------------------------------------
@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, round(value, 2) AS value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_per_group(ev, ["user_id"], "ts", tie_break=["event_id"]).select(
        "user_id", "event_id", "event_type", F.round("value", 2).alias("value")
    )


# --------------------------------------------------------------------------
# F4/P2: JSON field extraction + rollup (reference ingest-flatten path).
# --------------------------------------------------------------------------
@register(
    "event_json_rollup",
    """
    SELECT event_type,
           count(*)                                                  AS n,
           sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
           CAST(round(sum(CAST(value AS DECIMAL(38,12))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def event_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev = json_field(ev, "props", "k", alias="k_str")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("k_str").cast("bigint")).alias("sum_k"),
        stable_sum("value", 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# A4: pivot (reference TPC:2130-2135) — explicit value list (scale rule).
# --------------------------------------------------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_user_event_values",
    """
    SELECT user_id,
           round(sum(value) FILTER (event_type = 'click'), 2)    AS click,
           round(sum(value) FILTER (event_type = 'error'), 2)    AS error,
           round(sum(value) FILTER (event_type = 'purchase'), 2) AS purchase,
           round(sum(value) FILTER (event_type = 'signup'), 2)   AS signup,
           round(sum(value) FILTER (event_type = 'view'), 2)     AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return pivot_agg(
        ev, ["user_id"], "event_type", F.round(F.sum("value"), 2), values=EVENT_TYPES
    )


# --------------------------------------------------------------------------
# A1/U2/P4: per-table row-count audit via tagged union fold (reference
# TPC:1929-1956 count verification + reduce-union reports).
# --------------------------------------------------------------------------
AUDIT_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


@register(
    "rowcount_audit",
    " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in AUDIT_TABLES
    )
    + " UNION ALL SELECT 'schema_template' AS table_name, count(*) AS n_rows"
    "   FROM (SELECT l_orderkey FROM lineitem WHERE 1 = 2)",
)
def rowcount_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union fold of per-table counts (A1/U2/P4), plus the P7
    zero-row schema-template probe as a final 0-count row — the audit
    verifies the template really is empty."""
    frames = {
        t: load_table(spark, sf_dir, t).groupBy().agg(F.count("*").alias("n_rows"))
        for t in AUDIT_TABLES
    }
    template = schema_template(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ).groupBy().agg(F.count("*").alias("n_rows"))
    frames["schema_template"] = template
    tagged = union_all(
        [df.withColumn("table_name", F.lit(t)).select("table_name", "n_rows") for t, df in frames.items()]
    )
    return tagged


# --------------------------------------------------------------------------
# P7: always-false predicate → zero-row schema template (reference QH:149).
# --------------------------------------------------------------------------
@register(
    "schema_template_empty",
    "SELECT l_orderkey, l_quantity FROM lineitem WHERE 1 = 2",
)
def schema_template_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return schema_template(li)


# --------------------------------------------------------------------------
# P10/F5/F6/F7: conditional projection with null handling + concat
# (reference EP:170,176 if(isnull(...)) || codegen).
# --------------------------------------------------------------------------
@register(
    "conditional_projection",
    """
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END
             || '_' || c_mktsegment                     AS segment_band,
           count(*)                                     AS n,
           round(sum(c_acctbal), 2)                     AS total_bal
    FROM customer GROUP BY segment_band
    """,
)
def conditional_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        cust.withColumn("segment_band", F.concat(band, F.lit("_"), F.col("c_mktsegment")))
        .groupBy("segment_band")
        .agg(F.count("*").alias("n"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


# --------------------------------------------------------------------------
# Anti/semi joins — the idiomatic form of the reference's full-outer
# schema-diff emulation (SURVEY.md §2.3 note).
# --------------------------------------------------------------------------
@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "suppliers_with_recent_shipments",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_shipdate > DATE '1998-01-01')
    """,
)
def suppliers_with_recent_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    return sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


# --------------------------------------------------------------------------
# A3: DISTINCT (reference EP:166).
# --------------------------------------------------------------------------
@register(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# --------------------------------------------------------------------------
# Rollup / grouping sets (implied by the TPC corpus the reference
# stress-tests — SURVEY.md §2.4).
# --------------------------------------------------------------------------
@register(
    "order_priority_rollup",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL')   AS status,
           count(*)                          AS n,
           round(sum(o_totalprice), 2)       AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "total_price",
        )
    )


# --------------------------------------------------------------------------
# Window frames: running total per customer (Window machinery of W1/W2
# with an explicit frame — SURVEY.md §2.5 note).
# --------------------------------------------------------------------------
@register(
    "running_order_total",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_total
    FROM orders
    """,
)
def running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# --------------------------------------------------------------------------
# lag/lead: inter-event gap analysis.
# --------------------------------------------------------------------------
@register(
    "event_gap_stats",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS gap_sec
      FROM events
    )
    SELECT event_type, count(gap_sec) AS n_gaps,
           round(avg(gap_sec), 2) AS avg_gap_sec, round(max(gap_sec), 2) AS max_gap_sec
    FROM gaps GROUP BY event_type
    """,
)
def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("double")
    gaps = ev.select(
        "event_type", (epoch - F.lag(epoch).over(w)).alias("gap_sec")
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_sec").alias("n_gaps"),
        F.round(F.avg("gap_sec"), 2).alias("avg_gap_sec"),
        F.round(F.max("gap_sec"), 2).alias("max_gap_sec"),
    )


# --------------------------------------------------------------------------
# Top-k per group (Window + row_number ≤ k).
# --------------------------------------------------------------------------
@register(
    "top3_events_per_user",
    """
    SELECT user_id, event_id, round(value, 2) AS value, rn
    FROM (SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id) AS rn
          FROM events)
    WHERE rn <= 3
    """,
)
def top3_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.round("value", 2).alias("value"), "rn")
    )


# --------------------------------------------------------------------------
# S9/J3: MERGE upsert emulation (whenMatchedUpdateAll +
# whenNotMatchedInsertAll) — reference QH:244-250, Delta-free.
# --------------------------------------------------------------------------
@register(
    "merge_upsert_orders",
    """
    WITH source AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             round(o_totalprice + 1000, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    kept AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
      FROM orders t
      WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
    )
    SELECT * FROM kept UNION ALL SELECT * FROM source
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    raw = load_table(spark, sf_dir, "orders")
    source = (
        raw.filter(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 1000, 2).alias("o_totalprice"),
        )
    )
    return merge_upsert(orders, source, ["o_orderkey"])


@register(
    "partition_pruned_merge_report",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,12)) AS price,
             CAST(year(o_orderdate) AS INT) AS p
      FROM orders
    ),
    mn AS (SELECT min(p) AS m FROM base),
    news AS (
      SELECT o_orderkey + 1000000000 AS o_orderkey, price, p
      FROM base WHERE p = (SELECT m FROM mn)
      ORDER BY o_orderkey LIMIT 5
    ),
    merged AS (
      SELECT o_orderkey,
             CASE WHEN p = (SELECT m FROM mn) THEN price + 10 ELSE price END
               AS price,
             p
      FROM base
      UNION ALL SELECT * FROM news
    )
    SELECT p, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(price), 2) AS DOUBLE) AS total_price,
           p = (SELECT m FROM mn) AS rewritten
    FROM merged GROUP BY p ORDER BY p
    """,
)
def partition_pruned_merge_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned MERGE end-to-end (operators/upsert.py
    ``create_or_upsert_partitioned`` — round-6 fix for the
    whole-table-rewrite scale killer; reference QH:244-250 Delta
    MERGE's file-pruned semantics): orders lands partitioned by order
    year, then a source touching ONLY the earliest year (price bump
    +10 on every key, plus 5 new keys) merges in. The report rolls up
    the final table per partition and tags each with whether the merge
    rewrote it — the oracle recomputes the merged state relationally
    AND pins that exactly the earliest-year partition is tagged, so a
    regression to whole-table rewriting hash-fails, not just slows."""
    import shutil
    import tempfile

    from lakehouse_dba_tools_spark.functions.stable import DEC
    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast(DEC).alias("price"),
        F.year("o_orderdate").cast("int").alias("p"),
    )
    tmp = tempfile.mkdtemp(prefix="ppm_")
    path = f"{tmp}/orders_by_year"
    try:
        create_or_upsert_partitioned(spark, base, path, ["o_orderkey"], "p")
        m = base.agg(F.min("p")).first()[0]
        upd = base.where(F.col("p") == m).select(
            "o_orderkey", (F.col("price") + 10).cast(DEC).alias("price"), "p"
        )
        news = (
            base.where(F.col("p") == m)
            .orderBy("o_orderkey")
            .limit(5)
            .select(
                (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
                "price",
                "p",
            )
        )
        rewritten = create_or_upsert_partitioned(
            spark, upd.unionByName(news), path, ["o_orderkey"], "p"
        )
        vals = sorted(int(d.split("=", 1)[1]) for d in rewritten)
        final = spark.read.option("basePath", path).parquet(path)
        rows = (
            final.groupBy("p")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.round(F.sum("price"), 2).cast("double").alias("total_price"),
            )
            .withColumn("rewritten", F.col("p").isin(vals))
            .orderBy("p")
            .collect()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "p int, n_rows bigint, total_price double, rewritten boolean"
    )


# --------------------------------------------------------------------------
# Sessionization (north-star M6): gap>30min → session; per-user stats.
# --------------------------------------------------------------------------
@register(
    "session_counts",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, sum(new_sess)::BIGINT AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_minutes=30.0, tie_break="event_id")
    return s.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )

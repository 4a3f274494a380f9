"""Advanced operator queries: sliding windows, grouped-map pandas,
salted aggregation, exact percentiles."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.functions.stable import DEC
from lakehouse_dba_tools_spark.operators.skew import salted_agg, salted_join
from lakehouse_dba_tools_spark.registry import register
from lakehouse_dba_tools_spark.sources.tables import load_table
from lakehouse_dba_tools_spark.streaming.windows import run_stream_to_table, sliding_rollup, stream_events


@register(
    "streaming_sliding_rollup",
    """
    WITH b AS (
      SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT) AS b30, event_type
      FROM events
    ),
    expanded AS (
      SELECT b30 AS win_epoch, event_type FROM b
      UNION ALL
      SELECT b30 - 1800, event_type FROM b
    )
    SELECT win_epoch, event_type, count(*) AS n
    FROM expanded GROUP BY win_epoch, event_type
    """,
)
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h width, 30m slide): every event lands in two
    overlapping windows — the oracle expands each event into both
    window starts explicitly."""
    ev = stream_events(spark, sf_dir)
    return run_stream_to_table(
        sliding_rollup(ev, width="1 hour", slide="30 minutes"), spark
    )


@register(
    "user_value_zscores",
    """
    WITH stats AS (
      SELECT user_id, avg(value) OVER w AS mu, stddev_samp(value) OVER w AS sigma,
             event_id, value
      FROM events WINDOW w AS (PARTITION BY user_id)
    )
    SELECT user_id, event_id,
           round((value - mu) / sigma, 4) AS zscore
    FROM stats WHERE sigma > 0
    """,
)
def user_value_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (per-group pandas transform) — the
    canonical custom-operator escape hatch; oracle is the equivalent
    window-function SQL."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sigma = pdf["value"].std(ddof=1)
        if not sigma or sigma != sigma:
            return pdf.iloc[0:0][["user_id", "event_id"]].assign(zscore=[])
        out = pdf[["user_id", "event_id"]].copy()
        out["zscore"] = ((pdf["value"] - mu) / sigma).round(4)
        return out

    return ev.groupBy("user_id").applyInPandas(
        zscore, schema="user_id long, event_id long, zscore double"
    )


@register(
    "salted_event_rollup",
    """
    SELECT event_type, count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(38,12))), 2) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def salted_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over the low-cardinality (skew-prone)
    event_type key — result must be identical to the direct groupBy
    (the oracle). Exact-decimal partials: two-phase salting maximally
    reorders accumulation, so a double sum could flip a rounding
    boundary vs the oracle's single-phase sum (observed on the salted
    JOIN at sf0.1)."""
    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        ["event_type"],
        [F.count("*").alias("_n"), F.sum(F.col("value").cast(DEC)).alias("_s")],
        [
            F.sum("_n").alias("n"),
            F.round(F.sum("_s"), 2).cast("double").alias("total"),
        ],
        n_salts=16,
    )


@register(
    "salted_join_weighted_rollup",
    """
    WITH w(event_type, weight) AS (VALUES
      ('signup', 2.0), ('error', 0.5), ('click', 1.0),
      ('view', 0.1), ('purchase', 5.0))
    SELECT e.event_type, count(*) AS n,
           CAST(round(sum(CAST(e.value * w.weight AS DECIMAL(38,12))), 2)
             AS DOUBLE) AS weighted_total
    FROM events e JOIN w USING (event_type)
    GROUP BY e.event_type
    """,
)
def salted_join_weighted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted JOIN: events (5 distinct event_type values —
    a maximally hot join key) joined to a per-type weight dim through
    `salted_join`, which spreads each hot key across 8 salt reducers.
    The oracle is the plain unsalted join — the salt must be
    semantically invisible."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    weights = spark.createDataFrame(
        [("signup", 2.0), ("error", 0.5), ("click", 1.0),
         ("view", 0.1), ("purchase", 5.0)],
        "event_type string, weight double",
    )
    from lakehouse_dba_tools_spark.functions.stable import DEC

    joined = salted_join(ev, weights, ["event_type"], n_salts=8)
    # exact-decimal sum: the per-row double product is engine-identical,
    # the decimal sum makes accumulation order immaterial (a plain
    # double sum flipped the cents digit at sf0.1)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum((F.col("value") * F.col("weight")).cast(DEC)), 2)
        .cast("double")
        .alias("weighted_total"),
    )


@register(
    "part_copurchase_pagerank",
    """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1e0 / (SELECT n FROM nn) AS rank FROM nodes),
    m1 AS (
      SELECT e.dst AS node, sum(r0.rank / od.deg) AS in_mass
      FROM edges e JOIN r0 ON r0.node = e.src JOIN outdeg od ON od.src = e.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n2.node,
             round((1 - 0.85e0) / (SELECT n FROM nn)
                   + 0.85e0 * coalesce(m1.in_mass, 0), 12) AS rank
      FROM nodes n2 LEFT JOIN m1 ON m1.node = n2.node
    ),
    m2 AS (
      SELECT e.dst AS node, sum(r1.rank / od.deg) AS in_mass
      FROM edges e JOIN r1 ON r1.node = e.src JOIN outdeg od ON od.src = e.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n2.node,
             round((1 - 0.85e0) / (SELECT n FROM nn)
                   + 0.85e0 * coalesce(m2.in_mass, 0), 12) AS rank
      FROM nodes n2 LEFT JOIN m2 ON m2.node = n2.node
    ),
    m3 AS (
      SELECT e.dst AS node, sum(r2.rank / od.deg) AS in_mass
      FROM edges e JOIN r2 ON r2.node = e.src JOIN outdeg od ON od.src = e.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT n2.node,
             round((1 - 0.85e0) / (SELECT n FROM nn)
                   + 0.85e0 * coalesce(m3.in_mass, 0), 12) AS rank
      FROM nodes n2 LEFT JOIN m3 ON m3.node = n2.node
    )
    SELECT node AS part, round(rank * 1e6, 6) AS rank_ppm FROM r3
    """,
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph centrality: 3 power iterations of PageRank over
    the part co-purchase graph (parts sharing an order, both
    directions, deduped) — the graph-quality-prior pattern web-corpus
    curation uses (rank docs/domains by link centrality). The oracle
    unrolls the identical simplified formula (dangling mass dropped)
    in SQL; per-iteration round(12) makes double-summation order
    noise vanish so Spark and DuckDB agree bit-exactly."""
    from lakehouse_dba_tools_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    ranks = pagerank(edges, iterations=3, damping=0.85)
    return ranks.select(
        F.col("node").alias("part"),
        F.round(F.col("rank") * 1e6, 6).alias("rank_ppm"),
    )


@register(
    "rolling_time_window_totals",
    """
    SELECT user_id, event_id,
           CAST(round(sum(CAST(value AS DECIMAL(38,12))) OVER (
             PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS rolling_2h_value
    FROM events
    """,
)
def rolling_time_window_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RANGE window frame (rangeBetween over epoch seconds): each
    event's rolling 2-hour value total per user. RANGE frames are
    value-bounded, so tied timestamps are all peers regardless of row
    order — deterministic where a rowsBetween frame would not be.
    Spark's ``ts.cast('long')`` TRUNCATES fractional seconds, so the
    oracle floors (``floor(epoch(ts))``) rather than casting — DuckDB's
    BIGINT cast rounds half-to-even, which would put ~half the rows on
    a different 1s RANGE-frame key. Exact decimal sums make
    frame-internal order immaterial. One hash
    exchange on user_id; the frame scan is a single sorted pass per
    partition (no self-join range explosion)."""
    from pyspark.sql import Window

    from lakehouse_dba_tools_spark.functions.stable import DEC

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-7200, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum(F.col("value").cast(DEC)).over(w), 2)
        .cast("double")
        .alias("rolling_2h_value"),
    )


@register(
    "hourly_gapfill_locf",
    """
    WITH b AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             CAST(round(sum(CAST(value AS DECIMAL(38,12))), 2) AS DOUBLE) AS v,
             count(*) AS n
      FROM events GROUP BY event_type, h
    ),
    bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM b GROUP BY event_type),
    spine AS (
      SELECT event_type, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
      FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.h, b.v, coalesce(b.n, 0) AS n
      FROM spine s LEFT JOIN b ON b.event_type = s.event_type AND b.h = s.h
    )
    SELECT event_type, strftime(h, '%Y-%m-%d %H:00') AS hour, n,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM j
    """,
)
def hourly_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling + LOCF (the hypertable
    time_bucket_gapfill pattern): build the dense hourly spine per
    event_type with sequence()+explode between each series' min/max
    bucket, left-join the sparse rollup onto it, and carry the last
    non-null bucket value forward with last(ignorenulls) — empty hours
    report n=0 and the previous hour's value. The spine generation is
    per-group and distributed (no driver date loop); bucket values are
    rounded BEFORE the fill so both engines carry identical doubles."""
    from pyspark.sql import Window

    from lakehouse_dba_tools_spark.functions.stable import DEC

    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    spine = (
        b.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    j = spine.join(b, ["event_type", "h"], "left").select(
        "event_type", "h", "v", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        "n",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


@register(
    "fuzzy_part_name_pairs",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, split_part(p_name, ' ', 1) AS blk FROM names)
    SELECT a.p_name AS name_a, b2.p_name AS name_b,
           levenshtein(a.p_name, b2.p_name) AS dist
    FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_name < b2.p_name
    WHERE levenshtein(a.p_name, b2.p_name) <= 4
    """,
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching: candidate pairs come from a
    BLOCKING-KEY equi-join (first token), never an all-pairs cross
    join, then exact Levenshtein filters within the block — the same
    candidates→verify contract as the MinHash dedup tier, for
    record linkage over dirty entity names. At 100 TB the blocking key
    generalizes (phonetic codes, sorted character n-grams); the
    equi-join shape is unchanged. Both engines implement standard
    edit distance, so dist is engine-exact."""
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    b = names.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a = b.select(F.col("p_name").alias("name_a"), "blk")
    c = b.select(F.col("p_name").alias("name_b"), "blk")
    return (
        a.join(c, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= 4)
    )


@register(
    "k_anonymity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS class_size
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(5 AS INT) AS k,
           count(*) AS n_classes,
           min(class_size) AS min_class_size,
           CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
             AS BIGINT) AS rows_violating,
           CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)
             AS BIGINT) AS classes_violating
    FROM g
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy pre-flight for training-data release: k-anonymity over a
    quasi-identifier tuple (nation, segment, coarsened balance band) —
    one groupBy for the equivalence classes, one 1-row aggregate for
    the report (min class size, rows/classes below k). The release
    rule: rows_violating must be suppressed or the bands coarsened
    before export. Pure relational — a single shuffle on the QI tuple
    at any scale; complements doc_pii_redaction's row-level scrubbing
    with dataset-level re-identification risk."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    k = 5
    return g.agg(
        F.lit(k).cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").alias("min_class_size"),
        F.sum(
            F.when(F.col("class_size") < k, F.col("class_size")).otherwise(F.lit(0))
        ).alias("rows_violating"),
        F.sum(
            F.when(F.col("class_size") < k, F.lit(1)).otherwise(F.lit(0))
        ).alias("classes_violating"),
    )


@register(
    "order_price_percentiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). The scale default is percentile_approx (t-digest,
    mergeable sketch) — used in workload/harness.py; the exact form here
    is what the oracle can verify."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
        F.count("*").alias("n"),
    )


@register(
    "approx_distinct_parts",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch vs exact distinct: the query RETURNS the exact count
    (oracle-comparable) but also computes the approx and asserts the
    sketch is within its error bound — failing loudly if the sketch
    degrades (rsd 0.02 → ±~6% at 3σ)."""
    li = load_table(spark, sf_dir, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count("*").alias("n"),
    )
    checked = both.withColumn(
        "exact_parts",
        F.when(
            (F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")) <= 0.06,
            F.col("exact_parts"),
        ).otherwise(F.lit(-1)),  # sentinel: sketch out of bound → oracle mismatch
    )
    return checked.select("l_returnflag", "exact_parts", "n")


@register(
    "hll_mergeable_user_counts",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS merge_lossless,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def hll_mergeable_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Datasketches HLL builtins) —
    the incremental form a 100 TB pipeline needs: store one binary
    sketch per (event_type, day) partial, `hll_union_agg` them into the
    event_type total without touching history. Two properties are
    checked in-query and must both hold for the oracle to match:

    - merge_lossless: estimate(union of daily sketches) equals
      estimate(one-pass sketch) EXACTLY — HLL union at the same lgK is
      lossless, so rollup maintenance cannot drift from recompute.
    - within_bound: the estimate lands within ±5% of the exact distinct
      (lgK=14 → ~1% RSE; 5% ≈ >4σ, loud failure only on real breakage).

    The exact count is what the oracle compares value-for-value; the
    sketch path degrades to boolean FALSE columns on violation, which
    hash-fails the driver check."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("merged_est")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("direct_est"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return (
        direct.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            (F.col("merged_est") == F.col("direct_est")).alias("merge_lossless"),
            (
                F.abs(F.col("direct_est") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_bound"),
        )
    )


@register(
    "approx_quantile_error_bound",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_within_bound, TRUE AS p95_within_bound
    FROM orders GROUP BY o_orderpriority
    """,
)
def approx_quantile_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile-sketch contract — the t-digest-style twin of
    approx_distinct_parts' HLL bound check. percentile_approx (Spark's
    mergeable quantile summary, the only form that rolls up over
    100 TB partials) guarantees rank error ≤ n/accuracy; the query
    RECOMPUTES the returned estimate's realized rank relationally
    (broadcast the 1-row-per-group sketch output back onto the fact,
    conditional count) and asserts |rank − q·n| ≤ n/accuracy + 1.
    A sketch regression flips the boolean and hash-fails the gate;
    the exact-value counterpart is order_price_percentiles."""
    orders = load_table(spark, sf_dir, "orders")
    acc = 1000
    ap = orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, acc).alias("ap50"),
        F.percentile_approx("o_totalprice", 0.95, acc).alias("ap95"),
    )
    ranks = (
        orders.select("o_orderpriority", "o_totalprice")
        .join(F.broadcast(ap), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("ap50"), 1).otherwise(0)
            ).alias("r50"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("ap95"), 1).otherwise(0)
            ).alias("r95"),
        )
    )
    tol = F.col("n") / acc + 1
    return ranks.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        (F.abs(F.col("r50") - 0.5 * F.col("n")) <= tol).alias("p50_within_bound"),
        (F.abs(F.col("r95") - 0.95 * F.col("n")) <= tol).alias("p95_within_bound"),
    )

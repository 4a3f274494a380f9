"""Exact & canonical-form dedup — the cheap first pass of every corpus
pipeline.

Hash-groupBy on a content digest: one shuffle on the digest, map-side
partial aggregation. At 100 TB the digest (16 bytes) shuffles, never the
document bodies — project doc_id + md5 BEFORE the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.functions.text import normalized_text


def content_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = False
) -> DataFrame:
    """One row per distinct content: keeper id (min), copy count."""
    key = normalized_text(text_col) if normalize else F.col(text_col)
    return (
        df.select(F.md5(key).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def span_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
) -> DataFrame:
    """Every ``window``-token sliding-window digest per document,
    stride 1 → (id, pos, span_hash) rows.

    Stride 1 is what makes the check *alignment-free*: any two
    documents sharing ≥ ``window`` consecutive tokens share at least
    one window hash regardless of where the run starts in each doc —
    the guarantee suffix-array exact-substring dedup gives, expressed
    as a shuffle-friendly hash join instead of a global sort. Only the
    16-byte digest + id ever shuffle; bodies are pruned before the
    explode. The O(window) re-hash per position is the JVM-codegen
    price for staying UDF-free.
    """
    from lakehouse_dba_tools_spark.functions.text import tokens

    return (
        df.select(F.col(id_col), tokens(text_col).alias("_t"))
        .where(F.size("_t") >= window)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - window),
                    lambda p: F.md5(
                        F.concat_ws(" ", F.slice(F.col("_t"), p + 1, window))
                    ),
                )
            ).alias("pos", "span_hash"),
        )
    )


def duplicate_span_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
) -> DataFrame:
    """Per-document exact-substring duplication profile: how many of a
    doc's sliding windows also appear verbatim in ANOTHER document.

    Two shuffles on span_hash (group → duplicated-hash set, then the
    marker join lands on the same partitioning, so AQE reuses the
    exchange) plus the final rollup on id. Within-doc repetition is
    deliberately excluded (that is doc_repetition_scores' axis): a
    hash counts as duplicated only when ≥2 DISTINCT docs carry it.
    """
    spans = span_hashes(df, text_col, id_col, window)
    dup = (
        spans.groupBy("span_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") > 1)
        .select("span_hash", F.lit(1).alias("_dup"))
    )
    return (
        spans.join(dup, "span_hash", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.count("_dup").alias("n_dup_spans"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    return_text: bool = False,
) -> DataFrame:
    """Excise cross-document duplicated runs from every doc except the
    run's canonical keeper (min id per duplicated hash) — the removal
    half of exact-substring dedup, after the detection half
    (duplicate_span_report).

    Pipeline, all JVM window/array algebra (no UDF):
      1. duplicated window instances to remove: hash shared by ≥2 docs
         AND this doc is not the keeper → intervals [pos, pos+W-1];
      2. gaps-and-islands merge per doc (running max of interval end,
         break when a start clears it) → maximal excision islands;
      3. token filter: keep token i unless an island covers it, via a
         2-arg ``filter`` lambda over the token array against the
         doc's sorted island structs — order-preserving, no explode of
         the corpus.

    Returns per-doc: n_tokens, n_islands, n_removed_tokens, and
    cleaned_hash = md5 of the space-joined surviving tokens, so an
    oracle can verify the RESULTING TEXT, not just the counts. Shuffle
    profile: one exchange on span_hash (dup set), one on id for the
    islands rollup, one id join back to bodies — interval merge and
    excision never move text between nodes.
    """
    from pyspark.sql import Window

    from lakehouse_dba_tools_spark.functions.text import tokens

    spans = span_hashes(df, text_col, id_col, window)
    dup = (
        spans.groupBy("span_hash")
        .agg(
            F.count_distinct(F.col(id_col)).alias("_nd"),
            F.min(id_col).alias("_keeper"),
        )
        .where(F.col("_nd") > 1)
        .select("span_hash", "_keeper")
    )
    remove = (
        spans.join(dup, "span_hash")
        .where(F.col(id_col) != F.col("_keeper"))
        .select(
            id_col,
            F.col("pos").alias("s0"),
            (F.col("pos") + window - 1).alias("s1"),
        )
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s0", "s1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s0", "s1")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = remove.withColumn(
        "_brk",
        F.when(
            F.col("s0") > F.coalesce(F.max("s1").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("_g", F.sum("_brk").over(w_run))
    islands = (
        grouped.groupBy(id_col, "_g")
        .agg(F.min("s0").alias("i0"), F.max("s1").alias("i1"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("i0", "i1"))).alias("_islands"))
    )
    toks = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    covered = lambda i: lambda iv: (i >= iv["i0"]) & (i <= iv["i1"])  # noqa: E731
    return (
        toks.join(islands, id_col, "left")
        .withColumn("_islands", F.coalesce("_islands", F.array()))
        .withColumn(
            "_clean",
            F.filter(
                F.col("_t"), lambda x, i: ~F.exists(F.col("_islands"), covered(i))
            ),
        )
        .select(
            id_col,
            F.size("_t").cast("long").alias("n_tokens"),
            F.size("_islands").cast("long").alias("n_islands"),
            (F.size("_t") - F.size("_clean")).cast("long").alias("n_removed_tokens"),
            F.md5(F.concat_ws(" ", F.col("_clean"))).alias("cleaned_hash"),
            *(
                [F.concat_ws(" ", F.col("_clean")).alias("cleaned_text")]
                if return_text
                else []
            ),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", normalize: bool = False
) -> DataFrame:
    """Keep the min-id row per distinct content (deterministic survivor)."""
    key = normalized_text(text_col) if normalize else F.col(text_col)
    keepers = (
        df.select(F.md5(key).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")

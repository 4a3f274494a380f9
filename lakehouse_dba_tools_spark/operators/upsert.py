"""Keyed upsert / MERGE emulation (reference S9, J3).

The reference upserts re-fetched query-history rows with Delta MERGE:
``merge(src, "a.query_id = b.query_id").whenMatchedUpdateAll()
.whenNotMatchedInsertAll()`` (`tasks/Query History API to
Delta_withmetrics.py:244-250`). Delta isn't on this classpath, so the
engine provides the same semantics as a pure DataFrame transform:

    result = source ∪ (target ⟕anti source on keys)

i.e. every target row whose key appears in the source is replaced by the
source row (whenMatchedUpdateAll), unmatched source rows are inserted
(whenNotMatchedInsertAll), unmatched target rows pass through.

MERGE requires the source be unique per key (SURVEY.md §7 risk 1) — we
enforce it with ``dedup_by_key`` rather than assuming, and raise by
default if duplicates were present and no ordering was given.

Scale notes: the anti-join shuffles both sides on the key (or
broadcasts a small source — Catalyst/AQE decides). That matches what
Delta MERGE does physically (join target files against source). At
100 TB the win is the same as Delta's: partition/cluster the target on
the key's natural prefix so file pruning bounds the rewrite set —
``create_or_upsert_partitioned`` implements exactly that: only the
partition directories receiving source rows are rewritten, everything
else is carried by reference (round-6; was a whole-table rewrite).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.dedup import dedup_by_key


def _duplicate_keys(verb: str, keys: Sequence[str]) -> ValueError:
    """The error a MERGE verb raises for a source that holds some key
    more than once when no ``source_order`` picks the surviving row."""
    return ValueError(
        f"{verb}: source has duplicate keys on {list(keys)} and no "
        "source_order was given; pass source_order to dedup, or (to "
        "merge_upsert) validate_unique=False if uniqueness is guaranteed "
        "upstream"
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    source_order: Sequence[Column | str] | None = None,
    validate_unique: bool = True,
) -> DataFrame:
    """whenMatchedUpdateAll + whenNotMatchedInsertAll, Delta-free.

    ``source_order``: ordering that picks the surviving source row per
    key when the source has duplicates (the reference pre-dedups with
    W1 ordered by query_start_time_ms before merging).

    Without ``source_order``, duplicate source keys would break the
    one-row-per-key MERGE postcondition, so they raise — checked with a
    bounded job (grouped count, limit 1). That extra pass matters on a
    huge source: either pass ``source_order`` (dedup replaces the
    check) or ``validate_unique=False`` if uniqueness is guaranteed
    upstream (Delta MERGE itself errors at runtime in this case).
    """
    if source_order is not None:
        source = dedup_by_key(source, keys, source_order, keep="last")
    elif validate_unique:
        dup = (
            source.groupBy(*[F.col(f"`{k}`") for k in keys])
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
        )
        if dup.count() > 0:
            raise _duplicate_keys("merge_upsert", keys)
    source = source.select(*[F.col(f"`{c.name}`") for c in target.schema.fields])
    kept_target = target.join(source.select(*keys), on=list(keys), how="left_anti")
    return kept_target.unionByName(source)


def create_or_upsert_parquet(
    spark,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    source_order: Sequence[Column | str] | None = None,
) -> None:
    """The reference's create-vs-merge branch (QH:229-250) over parquet.

    First load: write. Else: read-merge-rewrite — a WHOLE-TABLE rewrite
    per merge, which is only acceptable for genuinely small dimension
    tables (a few files). Fact/history tables must use
    ``create_or_upsert_partitioned`` instead, where a natural
    date/key-prefix partition bounds the rewrite to touched dirs; the
    streaming sink and the QH ETL flagship route through it (round-7).

    The merged table is written once, to a staging dir, which then
    replaces ``path`` by directory swap (``rmtree`` + ``os.rename``) —
    the same swap the partitioned verb does per partition dir.

    (With a Delta/Iceberg classpath this becomes a true transactional
    MERGE; the branch logic and key-uniqueness contract are identical.)
    """
    import os
    import shutil

    from lakehouse_dba_tools_spark.maintenance.history import (
        footer_row_count,
        record_commit,
    )

    if not os.path.exists(path):
        df = source
        if source_order is not None:
            df = dedup_by_key(df, keys, source_order, keep="last")
        df.write.mode("overwrite").parquet(path)
        record_commit(
            path, "CREATE", num_output_rows=footer_row_count(path),
            parameters={"keys": list(keys)},
        )
        return
    target = spark.read.parquet(path)
    merged = merge_upsert(target, source, keys, source_order=source_order)
    # Write via a staging dir: parquet has no transaction log and we
    # cannot overwrite a path we're still reading from lazily.
    staging = path.rstrip("/") + "._staging"
    shutil.rmtree(staging, ignore_errors=True)
    merged.write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    os.rename(staging, path)
    # The swap bypasses Spark's write-path cache refresh.
    spark.catalog.refreshByPath(path)
    record_commit(
        path, "MERGE", num_output_rows=footer_row_count(path),
        parameters={"keys": list(keys)},
    )


def create_or_upsert_partitioned(
    spark,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_col: str,
    source_order: Sequence[Column | str] | None = None,
) -> list[str]:
    """Partition-pruned MERGE (round-6 fix for the whole-table-rewrite
    scale killer): only target partitions that actually receive source
    rows are rewritten; every other partition directory is carried by
    reference, untouched on disk — the same file-pruning win real
    Delta MERGE gets from its transaction-log file stats
    (`tasks/Query History API to Delta_withmetrics.py:244-250`). At
    100 TB with a 1-hour look-back source this is the difference
    between rewriting ~0.1% of files and rewriting everything.

    CONTRACT: ``partition_col`` must be STABLE per key (a creation
    date, a key-prefix bucket) — a key whose partition value changed
    between target and source would leave its old row in an unpruned
    partition and violate MERGE's one-row-per-key postcondition.
    Delta's pruned MERGE carries the identical caveat (pruning is only
    sound when the merge condition constrains the partition column).

    Returns the list of rewritten/created partition directory names.

    One action decides the MERGE: over the source it counts the rows
    per key and, per partition value, keeps the largest such count.
    That collect names the affected partitions and checks key
    uniqueness together. A count above 1 raises ``ValueError``
    ("duplicate keys") before anything is written — only possible
    without ``source_order``, which dedups the source first — and
    ``merge_upsert`` then runs without its own uniqueness pass. NULL
    partition values are kept as a partition value of their own. When
    the source comes from ``dedup_by_key`` on the same keys, the per-key
    group reuses the window's hash partitioning and adds no shuffle.

    One pass over the source: the MERGE branch pins ``source``
    (``pinned_for_write``) from that action through the staging write,
    so the action and both arms of the merged write read one
    materialised copy instead of re-running the source lineage (JSON
    parse, dedup window) each time; the pin is released when the verb
    returns. The merged rows are repartitioned on ``partition_col``
    before the write, so each rewritten partition dir holds exactly one
    parquet file.

    The commit log records the CREATE's row count, and for a MERGE the
    rows written into the rewritten partitions (Delta's
    ``numOutputRows``: bounded by the rewrite, not the table).

    Scale: the driver receives at most one row per partition value of
    the SOURCE (a look-back window: tens of values, never fact-row
    cardinality); the per-key count is a partial aggregation on the
    executors. The merge join shuffles only the affected partitions'
    rows, and the pin holds only the source.
    """
    import os
    import shutil

    from lakehouse_dba_tools_spark.maintenance.history import (
        footer_row_count,
        record_commit,
    )
    from lakehouse_dba_tools_spark.operators.indexio import pinned_for_write

    if source_order is not None:
        source = dedup_by_key(source, keys, source_order, keep="last")
    if not os.path.exists(path):
        source.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        record_commit(
            path, "CREATE", num_output_rows=footer_row_count(path),
            parameters={"keys": list(keys), "partition_col": partition_col},
        )
        return sorted(
            d for d in os.listdir(path) if d.startswith(f"{partition_col}=")
        )

    staging = path.rstrip("/") + "._staging"
    shutil.rmtree(staging, ignore_errors=True)
    with pinned_for_write(source) as source:
        # One action: rows per key, then per partition value the most
        # rows any of its keys has. The struct keeps NULL partition
        # values, which collect_set would drop.
        per_partition = (
            source.groupBy(*[F.col(f"`{k}`") for k in keys])
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.collect_set(F.struct(F.col(f"`{partition_col}`").alias("_p"))).alias("_ps"),
            )
            .select("_n", F.explode("_ps._p").alias("_p"))
            .groupBy("_p")
            .agg(F.max("_n").alias("_n"))
            .collect()
        )
        if any(r._n > 1 for r in per_partition):
            raise _duplicate_keys("create_or_upsert_partitioned", keys)
        affected = [r._p for r in per_partition]
        # Partition pruning keeps the target read to the affected dirs
        # only. NULL partition values need an explicit isNull arm: isin()
        # is three-valued and never matches NULL, yet the staging write
        # emits a __HIVE_DEFAULT_PARTITION__ dir whose rename would
        # replace the target's NULL partition — without this arm the
        # target's existing NULL-partition keys would be silently dropped.
        non_null = [a for a in affected if a is not None]
        prune = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if any(a is None for a in affected):
            prune = prune | F.col(partition_col).isNull()
        target = spark.read.option("basePath", path).parquet(path).where(prune)
        merged = merge_upsert(target, source, keys, validate_unique=False)
        (
            merged.repartition(partition_col)
            .write.mode("overwrite").partitionBy(partition_col).parquet(staging)
        )
    written = footer_row_count(staging)
    rewritten = []
    for d in sorted(os.listdir(staging)):
        if not d.startswith(f"{partition_col}="):
            continue
        dst = os.path.join(path, d)
        if os.path.isdir(dst):
            shutil.rmtree(dst)
        os.rename(os.path.join(staging, d), dst)
        rewritten.append(d)
    shutil.rmtree(staging, ignore_errors=True)
    # The dir renames bypass any write-through cache refresh: a reader
    # whose file listing was cached pre-merge would chase renamed-away
    # part files. Invalidate explicitly (same stale-snapshot class as
    # dedup/index.py _refresh, where it silently dropped a pair).
    spark.catalog.refreshByPath(path)
    record_commit(
        path, "MERGE", num_output_rows=written,
        parameters={
            "keys": list(keys),
            "partition_col": partition_col,
            "rewritten_partitions": rewritten,
        },
    )
    return rewritten

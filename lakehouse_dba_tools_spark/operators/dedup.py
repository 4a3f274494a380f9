"""Keyed dedup via window ranking (reference W1, W2).

The reference keeps one row per ``query_id`` before MERGE with
``row_number() over (partition by query_id order by query_start_time_ms)
qualify rn = 1`` (`tasks/Query History API to Delta_withmetrics.py:232,242`)
and a latest-row-per-group variant ordered descending
(`resources/TPC-datagen-notebook.scala:2231-2244`).

Scale notes: ``row_number`` over ``partitionBy(keys)`` is a single hash
shuffle on the keys — the same shuffle a ``groupBy(keys)`` would pay, and
AQE splits skewed key partitions. When only the latest row is needed and
the payload is wide, ``max_by``-style aggregation (one shuffle, partial
aggregation map-side) can beat the window; we expose both.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    keep: str = "first",
) -> DataFrame:
    """Keep exactly one row per key, ranked by ``order_by``.

    ``keep='first'`` keeps the lowest sort value (reference W1 keeps the
    earliest ``query_start_time_ms``); ``keep='last'`` the highest (W2's
    latest-operation-per-table). Pass extra tie-break columns in
    ``order_by`` for determinism — the reference's single-key ordering is
    nondeterministic under ties.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    if keep == "last":
        cols = [c.desc() for c in cols]
    w = Window.partitionBy(*keys).orderBy(*cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_per_group(
    df: DataFrame, keys: Sequence[str], ts_col: str, tie_break: Sequence[str] = ()
) -> DataFrame:
    """Latest row per group (reference W2)."""
    return dedup_by_key(df, keys, [ts_col, *tie_break], keep="last")

"""As-of join — north-star extension (Spark lacks a native one).

Composition strategy (preferred, scales): union the two sides tagged by
origin, sort by (key, ts) once, and carry the last-seen right-side row
forward with ``last(..., ignorenulls=True)`` over a running window.
One shuffle on the key, no UDF, no per-group pandas.

The classic alternative (`pd.merge_asof` inside ``applyInPandas``) pays
Arrow transfer + per-group pandas and needs group-fits-in-memory; it
lives in tests/test_sources_asof.py as the cross-check of this join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] = (),
    value_cols: Sequence[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    right.on <= left.on (direction='backward'; 'forward' mirrors).

    ``by``: equi-join keys (e.g. user_id); ``on``: the ordering column.
    Right-side value columns come back NULL when nothing precedes.
    """
    if value_cols is None:
        value_cols = [c for c in right.columns if c != on and c not in by]
    lcols = [c for c in left.columns]

    l_tag = left.select(*lcols).withColumn("_side", F.lit(1))
    r_tag = right.select(*by, on, *value_cols).withColumn("_side", F.lit(0))
    for c in lcols:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None))
    for c in value_cols:
        l_tag = l_tag.withColumn(c, F.lit(None))
    unioned = l_tag.unionByName(r_tag.select(*l_tag.columns))

    # Right rows sort before left rows at equal ts (backward: <=).
    order = [F.col(on).asc(), F.col("_side").asc()]
    if direction == "forward":
        order = [F.col(on).desc(), F.col("_side").asc()]
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
            .over(w)
            .alias(f"_asof_{c}")
            for c in value_cols
        ],
    )
    out = filled.filter(F.col("_side") == 1).drop("_side", *value_cols)
    for c in value_cols:
        out = out.withColumnRenamed(f"_asof_{c}", c)
    return out

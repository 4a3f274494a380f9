"""Pivot / transpose operators (reference A4) and unpivot.

The reference transposes DESCRIBE EXTENDED key/value rows into one wide
row with ``groupBy().pivot(info_name).agg(first(info_value))``
(`resources/TPC-datagen-notebook.scala:2130-2135`).

Scale note: always pass explicit pivot ``values`` when known — otherwise
Spark runs an extra distinct-collect job over the pivot column to
discover them, and an unbounded value set explodes the schema.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pivot_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    agg: Column,
    values: Sequence[str] | None = None,
) -> DataFrame:
    g = df.groupBy(*group_cols) if group_cols else df.groupBy()
    return g.pivot(pivot_col, list(values) if values else None).agg(agg)


def unpivot(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "name",
    value_name: str = "value",
) -> DataFrame:
    """Inverse of pivot via stack() — no shuffle, a pure projection."""
    n = len(value_cols)
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    return df.selectExpr(
        *[f"`{c}`" for c in id_cols],
        f"stack({n}, {pairs}) as (`{var_name}`, `{value_name}`)",
    )

"""Vector column expressions — JVM-side array math.

``F.zip_with``/``F.aggregate`` keep dot products inside whole-stage
codegen. Elements are cast to double FIRST so the fold is pure
double arithmetic (deterministic, oracle-comparable; float32
accumulation would drift from any double-precision oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def l2_normalize(a: Column) -> Column:
    n = l2_norm(a)
    return F.transform(a, lambda x: x / n)

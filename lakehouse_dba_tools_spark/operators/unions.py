"""Union folds & schema templates (reference U1-U3, P7).

The reference accumulates pages with a positional ``union`` loop seeded
by an empty ``where 1=2`` schema template (`tasks/Query History API to
Delta_withmetrics.py:149,225`) and folds report frames with
``Seq(...).reduce(_ union _)`` (`resources/TPC-datagen-notebook.scala:
1869,2135`), plus a by-name variant (`:2316`).

We fold by NAME everywhere (risk 4 in SURVEY.md §7: positional union
silently mis-aligns when column order drifts) and build the fold as one
balanced reduce — a linear union chain of N frames makes an N-deep
logical plan that Catalyst re-analyzes quadratically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def schema_template(df: DataFrame) -> DataFrame:
    """Zero-row frame carrying the schema (P7: ``where 1=2`` → limit 0)."""
    return df.limit(0)


def union_all(frames: Sequence[DataFrame], by_name: bool = True, allow_missing: bool = False) -> DataFrame:
    """Balanced UNION ALL fold over a list of frames (U1/U2/U3)."""
    if not frames:
        raise ValueError("union_all of zero frames")
    frames = list(frames)
    while len(frames) > 1:
        nxt = []
        for i in range(0, len(frames), 2):
            if i + 1 < len(frames):
                a, b = frames[i], frames[i + 1]
                nxt.append(
                    a.unionByName(b, allowMissingColumns=allow_missing) if by_name else a.union(b)
                )
            else:
                nxt.append(frames[i])
        frames = nxt
    return frames[0]

"""Gap-based sessionization (batch) — north-star extension M6.

Not in the reference (its "incrementality" is polling loops —
SURVEY.md §2.10); needed to analyze the `events` stream table. Pure
window composition, no UDF:

    session boundary  := gap from previous event per user > threshold
    session id        := running count of boundaries per user

Scale notes: two stacked windows over the same ``partitionBy(user)
orderBy(ts)`` spec → ONE shuffle; Spark reuses the sort. Long-tail
users (huge partitions) are the skew risk; for streaming use the
built-in ``session_window`` instead (streaming/windows.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: float = 30.0,
    session_col: str = "session_id",
    tie_break: str | None = None,
) -> DataFrame:
    """Assign a per-user session number to every event.

    ``tie_break``: extra ORDER BY column after ``ts_col`` so equal
    timestamps within a user order deterministically (required for
    reproducible lag() when ts has ties — same contract as
    ``dedup_by_key``).
    """
    order = [ts_col] if tie_break is None else [ts_col, tie_break]
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_sec = F.col(ts_col).cast("double") - F.lag(F.col(ts_col).cast("double")).over(w)
    is_new = F.when(gap_sec.isNull() | (gap_sec > gap_minutes * 60.0), 1).otherwise(0)
    return df.withColumn("_new_sess", is_new).withColumn(
        session_col, F.sum("_new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("_new_sess")

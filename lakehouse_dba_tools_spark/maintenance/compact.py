"""Layout-maintenance verbs: OPTIMIZE / ZORDER / VACUUM / ANALYZE
analogs over parquet (reference D9-D13).

Without a table format's transaction log these are rewrite operations;
the knobs match what the reference tunes:

- ``optimize_compact``  ≈ OPTIMIZE (QH:256): bin-pack small files to a
  target size.
- ``optimize_zorder``   ≈ OPTIMIZE ZORDER BY (TPC:1978-2033): Morton
  bit-interleave of the key ranks (JVM column algebra), range-partition
  + sort by the Z-value — bounds every dimension's per-file min/max, so
  parquet stats skip files on ANY of the keys.
- ``optimize_cluster``  — the simpler lexicographic variant (leading-key
  skipping only); kept because single-key or prefix-query layouts don't
  need the interleave.
- ``vacuum_staging``    ≈ VACUUM (TPC:2076-2092): remove leftover
  staging/temp dirs.

The ANALYZE TABLE analog (QH:260) is ``maintenance/audit.py``'s
``column_stats_report``.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

TARGET_FILE_BYTES = 128 * 1024 * 1024


def _estimate_partitions(path: str, target_bytes: int) -> int:
    files = glob.glob(os.path.join(path, "*.parquet")) or ([path] if os.path.isfile(path) else [])
    total = sum(os.path.getsize(f) for f in files)
    return max(1, round(total / target_bytes))


def optimize_compact(
    spark: SparkSession, path: str, out_path: str | None = None, target_bytes: int = TARGET_FILE_BYTES
) -> str:
    """Bin-pack a parquet location into ~target-size files."""
    out_path = out_path or path
    n = _estimate_partitions(path, target_bytes)
    df = spark.read.parquet(path)
    staging = out_path.rstrip("/") + "._compact"
    df.coalesce(n).write.mode("overwrite").parquet(staging)
    if os.path.exists(out_path) and out_path != staging:
        shutil.rmtree(out_path, ignore_errors=True)
    os.rename(staging, out_path)
    from lakehouse_dba_tools_spark.maintenance.history import record_commit

    record_commit(out_path, "OPTIMIZE", parameters={"target_bytes": target_bytes})
    return out_path


def optimize_cluster(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    out_path: str | None = None,
    num_files: int | None = None,
) -> str:
    """Cluster rows by key columns (ZORDER-analog): range-partition on
    the leading key, sort within files by the full tuple → tight
    per-row-group min/max stats → file/row-group skipping on those keys.
    """
    out_path = out_path or path
    df = spark.read.parquet(path)
    n = num_files or _estimate_partitions(path, TARGET_FILE_BYTES)
    clustered = (
        df.repartitionByRange(n, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*cluster_by)
    )
    staging = out_path.rstrip("/") + "._cluster"
    clustered.write.mode("overwrite").parquet(staging)
    if os.path.exists(out_path) and out_path != staging:
        shutil.rmtree(out_path, ignore_errors=True)
    os.rename(staging, out_path)
    from lakehouse_dba_tools_spark.maintenance.history import record_commit

    record_commit(out_path, "OPTIMIZE ZORDER", parameters={"cluster_by": cluster_by})
    return out_path


Z_BITS = 10  # bits per dimension in the Z-value (2^10 ranks/dim)


def z_value(cols: list[str], mins: dict[str, float], maxs: dict[str, float], bits: int = Z_BITS) -> F.Column:
    """Bit-interleaved Z-value over numeric columns — pure JVM column
    algebra (shiftleft/bitwiseOR), no UDF.

    Each column maps to a ``bits``-bit rank via uniform bucketing of
    its [min, max] domain (one agg computes the bounds; heavily skewed
    domains collapse buckets — pre-map through a quantile transform if
    that matters). Bit i of each rank lands at position
    ``i * n_cols + col_idx`` — the classic Morton interleave, so a
    range of Z-values bounds EVERY dimension, which is what makes
    parquet row-group min/max stats selective on non-leading keys
    (the property lexicographic sort lacks).
    """
    n = len(cols)
    interleaved = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = float(mins[c]), float(maxs[c])
        span = (hi - lo) or 1.0
        rank = F.least(
            F.lit((1 << bits) - 1),
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * ((1 << bits) - 1)),
        ).cast("long")
        for b in range(bits):
            bit = F.shiftright(rank, b).bitwiseAND(F.lit(1).cast("long"))
            interleaved = interleaved.bitwiseOR(F.shiftleft(bit, b * n + ci))
    return interleaved


def optimize_zorder(
    spark: SparkSession,
    path: str,
    zorder_by: list[str],
    out_path: str | None = None,
    num_files: int | None = None,
    bits: int = Z_BITS,
) -> str:
    """True OPTIMIZE ZORDER BY (TPC:1978-2033): Morton bit-interleave of
    the key ranks, range-partition + sort by the Z-value. One bounds
    agg + one shuffle; every dimension's per-file min/max range is
    bounded (multi-key file skipping), unlike the lexicographic
    ``optimize_cluster`` which only serves leading keys."""
    out_path = out_path or path
    df = spark.read.parquet(path)
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"min_{c}") for c in zorder_by],
        *[F.max(F.col(c).cast("double")).alias(f"max_{c}") for c in zorder_by],
    ).collect()[0]
    mins = {c: bounds[f"min_{c}"] for c in zorder_by}
    maxs = {c: bounds[f"max_{c}"] for c in zorder_by}
    n = num_files or _estimate_partitions(path, TARGET_FILE_BYTES)
    z = df.withColumn("_z", z_value(zorder_by, mins, maxs, bits))
    clustered = z.repartitionByRange(n, F.col("_z")).sortWithinPartitions("_z").drop("_z")
    staging = out_path.rstrip("/") + "._zorder"
    clustered.write.mode("overwrite").parquet(staging)
    if os.path.exists(out_path) and out_path != staging:
        shutil.rmtree(out_path, ignore_errors=True)
    os.rename(staging, out_path)
    from lakehouse_dba_tools_spark.maintenance.history import record_commit

    record_commit(out_path, "OPTIMIZE ZORDER", parameters={"zorder_by": zorder_by, "bits": bits})
    return out_path


def vacuum_staging(path: str) -> list[str]:
    """Remove leftover staging dirs from interrupted rewrites."""
    removed = []
    for suffix in ("._staging", "._compact", "._cluster", "._zorder", "._checkpoint"):
        p = path.rstrip("/") + suffix
        if os.path.exists(p):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    return removed

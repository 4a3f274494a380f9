"""Deterministic bounded micro-batch replay for ingest compositions.

The test-harness backbone the persisted-index streaming queries share
(streaming/ingest_dedup.py near-dup dedup, streaming/ingest_ann.py
neighbor search): slice a bounded DataFrame into ``id // batch_size``
batches, seed cross-batch state from the FIRST slice, stage the rest
as one parquet file each with strictly increasing mtimes — Spark's
file source (``maxFilesPerTrigger=1``) processes oldest-first, so
micro-batch order is a pure function of the id column — and drive a
``foreachBatch`` sink over them with ``availableNow``. An exact batch
oracle then exists: which batch a row lands in, and therefore every
cross-batch relationship, is determined by ``id // batch_size`` alone.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def replay_in_batches(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    batch_size: int,
    seed_fn: Callable[[DataFrame], None],
    sink: Callable[[DataFrame, int], None],
) -> None:
    """Seed from the first ``id // batch_size`` slice, then replay the
    remaining slices as deterministic micro-batches through ``sink``.
    The staging/checkpoint dirs are temp-scoped and removed.

    Every row needs a non-null ``id_col``: a null id belongs to no
    slice, so it raises ``ValueError`` naming the column and the null
    count instead of being dropped.

    ``seed_fn`` runs on an ``overlap_jobs`` worker thread at the same
    time as the staging write of the remaining slices. It therefore
    does not inherit the caller thread's job group or other Spark
    local properties, and it must not change anything the source
    scan of ``df`` reads."""
    stage = tempfile.mkdtemp(prefix="replay_stage_")
    ckpt = tempfile.mkdtemp(prefix="replay_ckpt_")
    try:
        batched = df.withColumn(
            "_b", F.floor(F.col(id_col) / batch_size).cast("long")
        )
        # Only the FIRST slice id and the null-id count need a Spark
        # action (one partial-agg — no shuffle); the remaining slice ids
        # are read off the staged partition directories below, which
        # the partitioned write materializes anyway. A null id would
        # pass neither slice filter, so it is rejected here.
        first, n_null = batched.agg(
            F.min("_b"), F.count(F.lit(1)) - F.count("_b")
        ).collect()[0]
        if n_null:
            raise ValueError(
                f"replay_in_batches: {n_null} row(s) have a null {id_col!r};"
                " every row needs an id to be assigned a batch"
            )
        if first is None:
            raise ValueError("replay_in_batches: empty input DataFrame")
        # Seeding (user callback — e.g. an index build) and the staging
        # write are independent job sets over the same bounded source —
        # overlap them (indexio.overlap_jobs; guide §2.6) so the
        # build's straggler tail back-fills the staging write's tasks.
        # Stage ALL remaining slices in ONE partitioned write (one scan
        # of the source instead of one scan+write job per slice — the
        # same clustered-write shape the index builds use): repartition
        # by the slice id gives one task, therefore one file, per
        # ``_b=`` directory; the partition column is dropped from file
        # contents exactly like the per-slice ``.drop("_b")`` writes
        # were. Then stamp each slice's file with increasing mtimes —
        # the file source (maxFilesPerTrigger=1, oldest-first) replays
        # them as deterministic micro-batches, ordered by slice id.
        from lakehouse_dba_tools_spark.operators.indexio import overlap_jobs

        overlap_jobs(
            lambda: seed_fn(batched.filter(F.col("_b") == first).drop("_b")),
            lambda: batched.filter(F.col("_b") > first)
            .repartition(F.col("_b"))
            .write.mode("overwrite")
            .partitionBy("_b")
            .parquet(stage),
        )
        rest = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(stage)
            if d.startswith("_b=")
        )
        t0 = 1_600_000_000
        for i, b in enumerate(rest):
            d = os.path.join(stage, f"_b={b}")
            for name in os.listdir(d):
                if name.endswith(".parquet"):
                    os.utime(os.path.join(d, name), (t0 + i, t0 + i))
        q = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(stage)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for d in (stage, ckpt):
            shutil.rmtree(d, ignore_errors=True)

"""Streaming ingest dedup: Structured Streaming + the persisted LSH index.

The continuous form of dedup/index.py's lifecycle: documents arrive as
micro-batches; ``foreachBatch`` dedups each batch against everything
that arrived BEFORE it (one index query), then appends the batch so
later batches dedup against it. This is the shape a 100 TB ingest
pipeline actually runs — the index is the only cross-batch state, the
per-batch cost is proportional to the batch, and a crash resumes from
the stream checkpoint with the index reflecting completed batches
(foreachBatch replays of an uncommitted batch re-query before
re-append, so duplicated appends are confined to the failed epoch —
the same at-least-once caveat as any external-sink foreachBatch;
dedup by (band_idx, band_key, doc_id) on compaction removes them).

Test harness determinism: the bounded replay stages the document set
as one parquet file per ``doc_id // batch_size`` slice with strictly
increasing mtimes — Spark's file source processes oldest-first, so
micro-batch order (and therefore which pair-direction each duplicate
is reported under) is a pure function of doc_id. The batch oracle is
then exact: all pairs whose members land in different batches, with
the LATER doc as id_a.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def make_query_then_append_sink(
    spark: SparkSession, idx: str, threshold: float, found: dict
):
    """The per-micro-batch body: query the index for the batch's
    near-dups, record them, append the batch — fused through
    ``ingest_batch`` so the batch is signed ONCE for both halves
    (signing text is the dominant per-batch cost). ``found`` is keyed
    by epoch_id so an at-least-once foreachBatch REPLAY overwrites its
    epoch's contribution instead of extending it. The replayed query
    sees the failed attempt's appended rows, which is why replay
    idempotence needs BOTH halves: duplicate index rows fold
    (duplicate-tolerant query), and the batch's own ids are excluded
    from the id_b side inside ``ingest_batch`` — otherwise a batch
    containing internal near-dups would emit within-batch pairs on
    replay that the original epoch never produced."""
    from lakehouse_dba_tools_spark.dedup.index import ingest_batch

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # ingest_batch returns the (bounded) verified pairs as a local
        # relation, so the recorded rows are stable
        found[int(epoch_id)] = ingest_batch(
            spark, batch_df, idx, threshold=threshold
        ).collect()

    return sink


def stream_ingest_dedup(
    spark: SparkSession,
    docs: DataFrame,
    batch_size: int = 125,
    threshold: float = 0.5,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Run the bounded streaming replay; returns (id_a, id_b, jaccard)
    — every cross-batch near-dup pair, id_a from the later batch.

    The first batch seeds the index (an ingest pipeline starts from
    SOME standing corpus; an empty-corpus start just means batch 0
    reports nothing, identically to this). Each subsequent micro-batch
    runs query-then-append inside ``foreachBatch``.
    """
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index
    from lakehouse_dba_tools_spark.streaming.replay import (
        local_frame,
        replay_in_batches,
    )

    idx = tempfile.mkdtemp(prefix="ingest_idx_")
    try:
        found: dict[int, list] = {}
        replay_in_batches(
            spark,
            docs,
            "doc_id",
            batch_size,
            seed_fn=lambda first: build_lsh_index(
                first, idx, num_perm=num_perm, bands=bands, seed=seed
            ),
            sink=make_query_then_append_sink(spark, idx, threshold, found),
        )
        # (id_a, id_b) is unique across epochs (id_a is in its epoch's
        # batch), so tuple order is the (id_a, id_b) order
        rows = sorted(r for epoch in found.values() for r in epoch)
        return local_frame(spark, rows, "id_a long, id_b long, jaccard double")
    finally:
        shutil.rmtree(idx, ignore_errors=True)

"""Streaming ingest ANN: Structured Streaming + the persisted IVF index.

The vector twin of streaming/ingest_dedup.py: embeddings arrive as
micro-batches; ``foreachBatch`` finds each new vector's top-k nearest
neighbors among everything that arrived BEFORE it (one index query at
full probe — exact on any corpus), then appends the batch so later
batches search against it. This is the continuous-ingest shape of
similarity search (link incoming documents to the standing corpus —
near-dup triage, citation candidates, retrieval-index freshness) with
the persisted index as the only cross-batch state.

Determinism mirrors ingest_dedup: batches are ``vec_id // batch_size``
slices replayed oldest-first (streaming/replay.py), so "arrived
before" is a pure function of vec_id and the exact batch oracle is
brute-force top-k restricted to earlier batches. Full probe makes the
IVF answer exact; partial-probe recall at scale is the index's own
(plan-pinned) story. Epoch replay: the ``found`` dict is keyed by
epoch_id (a replayed epoch replaces its slot), the index query is
duplicate-tolerant, and the sink excludes the batch's own ids from
the neighbor side — so a replayed epoch (whose failed attempt already
appended the batch) reproduces the original earlier-arrivals-only
answer instead of returning itself and same-batch neighbors. The same
at-least-once posture as the dedup twin.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def make_search_then_append_sink(
    spark: SparkSession, idx: str, k: int, nprobe: int, found: dict
):
    """Per-micro-batch body: top-k search the persisted IVF index for
    every vector in the batch, record the neighbors, append the batch
    with the stored quantizer."""
    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        query_ivf_index,
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from lakehouse_dba_tools_spark.operators.indexio import overlap_jobs

        q = batch_df.select(F.col("vec_id").alias("query_id"), "embedding")
        # exclude the batch's own ids: on a replayed epoch the failed
        # attempt's append already indexed them, and without the
        # exclusion each query would return itself (sim 1.0) and its
        # same-batch neighbors — results the original epoch never
        # produced. First delivery: a no-op (batch not yet indexed).
        # Plan the query BEFORE the append (snapshot resolve + probe
        # assignment bind to the pre-append lists), then overlap the
        # bounded collect with the append — independent job sets, same
        # correctness envelope as the sequential form (ingest_batch's
        # overlap note): rows a racing listing could glimpse carry the
        # batch's own ids (excluded) and duplicate rows fold in the
        # query's dropDuplicates; a failed collect beside a committed
        # append is the ordinary at-least-once epoch replay. Measured on
        # a 4-core host (10 interleaved stream_ingest_ann pairs at
        # sf0.01): median 7.86 s overlapped vs 10.02 s sequential,
        # overlapped faster in 9 of 10.
        out = query_ivf_index(
            spark, q, idx, k=k, nprobe=nprobe,
            exclude_ids=batch_df.select("vec_id"),
        ).select("query_id", "neighbor_id", "sim", "rank")
        rows, _ = overlap_jobs(
            lambda: out.collect(),  # bounded: |batch| × k neighbor rows
            lambda: append_to_ivf_index(batch_df, idx),
        )
        found[int(epoch_id)] = rows

    return sink


def stream_ingest_ann(
    spark: SparkSession,
    vectors: DataFrame,
    batch_size: int = 125,
    k: int = 3,
    n_centroids: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Run the bounded streaming replay; returns (query_id,
    neighbor_id, sim, rank) — each post-seed vector's top-k among all
    EARLIER arrivals. The first batch seeds the index (trains the
    coarse quantizer — an ingest pipeline starts from a standing
    corpus); every later micro-batch searches at full probe (exact)
    then appends."""
    from lakehouse_dba_tools_spark.similarity.index import build_ivf_index
    from lakehouse_dba_tools_spark.streaming.replay import (
        local_frame,
        replay_in_batches,
    )

    idx = tempfile.mkdtemp(prefix="ingest_ann_idx_")
    try:
        found: dict[int, list] = {}
        replay_in_batches(
            spark,
            vectors,
            "vec_id",
            batch_size,
            seed_fn=lambda first: build_ivf_index(
                first, idx, n_centroids=n_centroids, seed=seed
            ),
            sink=make_search_then_append_sink(
                spark, idx, k, n_centroids, found
            ),
        )
        rows = sorted(
            (r for epoch in found.values() for r in epoch),
            key=lambda r: (r["query_id"], r["rank"]),
        )
        return local_frame(
            spark, rows, "query_id long, neighbor_id long, sim double, rank int"
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)

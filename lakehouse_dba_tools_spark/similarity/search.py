"""Approximate & exact nearest-neighbor search over embedding columns.

Three tiers:

- ``brute_topk``: exact cosine top-k, query-set × corpus join + window
  rank. The baseline — scoring is a deterministic JVM-side sequential
  double fold (oracle-comparable digit for digit).
- ``lsh_topk_curve``: random-hyperplane LSH — corpus bucketed by sign
  pattern across several independent tables; queries probe their
  buckets. Equi-join on (table, bucket) replaces the cross join: the
  100 TB path. Bucket assignment and candidate scoring run as numpy
  matmuls in Arrow-batched pandas UDFs (similarity/kernels.py) — a
  literal-array Catalyst expression tree is interpreted per row and
  was the measured bottleneck.
- ``ivf_topk_curve``: inverted-file variant — corpus assigned to its
  nearest of C centroids (kmeans-lite on a driver-side sample), queries
  probe ``nprobe`` lists. Classic IVF-Flat layout.

Both ANN paths answer a tuple of configurations from one persisted
corpus pass; a single configuration is a one-element tuple.

Determinism: hyperplanes/centroids from seeded numpy RNG; ANN ranking
on round(sim, 9) with neighbor-id tie-break.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.partitioning import fan_out
from lakehouse_dba_tools_spark.similarity.kernels import (
    multi_table_bucket_udf,
    nearest_centroids_udf,
    pair_dot,
)
from lakehouse_dba_tools_spark.similarity.vector import as_double, dot, l2_normalize


def _topk_by_sim(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query (query_id, neighbor_id, sim, rank).

    The small side (queries) broadcasts; the corpus streams through one
    stage, so this scales with corpus size × |queries| — never shuffle
    the corpus itself. Ranking on ROUND(sim, 9) with id tie-break keeps
    top-k deterministic under fp noise.
    """
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), l2_normalize(as_double(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), l2_normalize(as_double(vec_col)).alias("_qv")
    )
    scored = c.join(F.broadcast(q), F.lit(True)).select(
        "query_id",
        "neighbor_id",
        F.round(dot(F.col("_cv"), F.col("_qv")), 9).alias("sim"),
    )
    return _topk_by_sim(scored, k)


def _hyperplane_tensor(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def _with_buckets(df: DataFrame, vec_alias: str, planes: np.ndarray) -> DataFrame:
    """Append (table_idx, bucket_key) rows — one numpy matmul per Arrow
    batch assigns every table's bucket at once."""
    bucket = multi_table_bucket_udf(planes)
    return df.select(
        "*", F.posexplode(bucket(F.col(vec_alias))).alias("tbl", "bkt")
    )


def train_centroids(
    corpus: DataFrame, n_centroids: int = 16, vec_col: str = "embedding",
    sample_fraction: float = 1.0, iters: int = 5, seed: int = 42,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """kmeans-lite on a driver-side sample (IVF coarse quantizer).

    The sample (≤ ~100k rows) is the ONLY data that touches the driver;
    assignment of the full corpus stays distributed in ivf_topk_curve.

    Run-invariance: ``toPandas()`` row order follows partition layout,
    which varies across sessions — sorting the sample by ``id_col``
    before the seeded init makes the trained centroids a pure function
    of (data, seed) whenever the sample fits under the row cap (always
    true at test scale; at 100 TB the cap truncation is arbitrary but
    kmeans init only needs a representative sample, not a stable one).
    """
    pdf = (
        corpus.select(
            F.col(id_col).alias("_id"), l2_normalize(as_double(vec_col)).alias("v")
        )
        .sample(fraction=sample_fraction, seed=seed)
        .limit(100_000)
        .toPandas()
        .sort_values("_id")
    )
    X = np.array(pdf["v"].tolist(), dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ cents.T
        assign = sims.argmax(axis=1)
        for j in range(len(cents)):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                cents[j] = m / (np.linalg.norm(m) or 1.0)
    return cents.tolist()


def ivf_topk_curve(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    nprobes: tuple[int, ...] = (1, 2, 4),
    seed: int = 42,
):
    """IVF top-k for SEVERAL nprobe configs sharing ONE centroid
    training and one corpus-wide list assignment — how a production
    recall sweep runs: the corpus pass is the expensive part and is
    identical for every nprobe (probing only changes the query side),
    so recomputing it per config does 3× the corpus work for the same
    answers. Returns ``(corpus_assign, [(nprobe, topk_df), ...])``; the
    assignment is persisted (at real corpus scale the recompute dwarfs
    the cache barrier), and the caller unpersists ``corpus_assign``
    after consuming the results."""
    cents = np.asarray(
        train_centroids(corpus, n_centroids, vec_col, seed=seed, id_col=id_col)
    )
    assign1 = nearest_centroids_udf(cents, 1)
    c = (
        fan_out(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            l2_normalize(as_double(vec_col)).alias("_cv"),
        )
        .withColumn("cid", assign1(F.col("_cv"))[0])
        .persist()
    )
    q_base = queries.select(
        F.col(query_id_col).alias("query_id"), l2_normalize(as_double(vec_col)).alias("_qv")
    )
    out = []
    for nprobe in nprobes:
        assignN = nearest_centroids_udf(cents, nprobe)
        q = q_base.withColumn("cid", F.explode(assignN(F.col("_qv"))))
        scored = c.join(q, "cid").select(
            "query_id", "neighbor_id", F.round(pair_dot("_cv", "_qv"), 9).alias("sim")
        )
        out.append((nprobe, _topk_by_sim(scored, k)))
    return c, out


def lsh_topk_curve(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 6,
    n_tables_list: tuple[int, ...] = (2, 4, 12),
    dim: int = 64,
    seed: int = 42,
):
    """LSH top-k for SEVERAL n_tables configs sharing ONE bucketing
    pass. With a fixed seed the T-table hyperplane tensor literally
    extends the (T-1)-table one (same rng draw order), so bucketing
    once at max(n_tables) and filtering ``tbl < T`` reproduces each
    smaller config EXACTLY — one corpus pass instead of one per config.
    Returns ``(handles, [(n_tables, topk_df), ...])``; both bucket
    frames are persisted, as in ``ivf_topk_curve``, and the caller
    unpersists the handles after consuming."""
    t_max = max(n_tables_list)
    planes = _hyperplane_tensor(dim, n_planes, t_max, seed)
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), l2_normalize(as_double(vec_col)).alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), l2_normalize(as_double(vec_col)).alias("_qv")
    )
    # Bucket-join on bare IDs, dedup, THEN re-attach vectors: the
    # candidate shuffle carries 16 bytes/pair instead of two 64-dim
    # arrays — the payload discipline that matters at 100 TB.
    c_b = _with_buckets(c.select("neighbor_id", "_cv"), "_cv", planes).select(
        "neighbor_id", "tbl", "bkt"
    ).persist()
    q_b = _with_buckets(q.select("query_id", "_qv"), "_qv", planes).select(
        "query_id", "tbl", "bkt"
    ).persist()
    out = []
    for n_tables in n_tables_list:
        cand = (
            c_b.filter(F.col("tbl") < n_tables)
            .join(q_b.filter(F.col("tbl") < n_tables), on=["tbl", "bkt"])
            .select("query_id", "neighbor_id")
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        scored = (
            cand.join(c, "neighbor_id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id", "neighbor_id", F.round(pair_dot("_cv", "_qv"), 9).alias("sim")
            )
        )
        out.append((n_tables, _topk_by_sim(scored, k)))
    return (c_b, q_b), out


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, sim ≥ threshold)
    via the same hyperplane-LSH bucketing (self-join form)."""
    planes = _hyperplane_tensor(dim, n_planes, n_tables, seed)
    v = fan_out(df).select(
        F.col(id_col).alias("_id"), l2_normalize(as_double(vec_col)).alias("_v")
    )
    b = _with_buckets(v, "_v", planes).select("_id", "tbl", "bkt")
    a_side = b.select(F.col("_id").alias("id_a"), "tbl", "bkt")
    b_side = b.select(F.col("_id").alias("id_b"), "tbl", "bkt")
    cand = (
        a_side.join(b_side, on=["tbl", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(F.round(pair_dot("va", "vb"), 9), 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def assign_clusters(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF coarse-quantizer cluster assignment: ``(doc_id, cid, _v)``
    with ``_v`` L2-normalized. Deterministic in (data, seed) — callers
    (semantic_dedup, and verification queries that need to re-derive
    within-cluster pairs from a realized kept set) get identical
    clusters by construction."""
    cents = np.asarray(
        train_centroids(corpus, n_centroids, vec_col, seed=seed, id_col=id_col)
    )
    assign1 = nearest_centroids_udf(cents, 1)
    return fan_out(corpus).select(
        F.col(id_col).alias("doc_id"), l2_normalize(as_double(vec_col)).alias("_v")
    ).withColumn("cid", assign1(F.col("_v"))[0])


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv:2303.09540): cluster embeddings with
    the IVF coarse quantizer, then compare pairs ONLY within a cluster
    and drop every doc that has a lower-id cluster-mate with cosine ≥
    ``threshold``. Returns (kept, dropped_pairs).

    The keep rule ("no lower-id near neighbor in my cluster") is the
    deterministic distributed analog of the paper's greedy keeper pass
    and guarantees kept docs are PAIRWISE below the threshold within
    each cluster: if x < y were both kept and sim(x, y) ≥ t, y's rule
    would have dropped y.

    Scale (the paper's point): the quadratic term is bounded per
    cluster — the self-join hits only same-cid pairs after one
    equi-join shuffle on cid, never the corpus × corpus cross.
    Centroids train on a bounded driver sample (train_centroids);
    everything else stays distributed."""
    assigned = assign_clusters(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col, seed=seed
    )
    a = assigned.select(
        F.col("doc_id").alias("lo_id"), F.col("_v").alias("_va"), "cid"
    )
    b = assigned.select(
        F.col("doc_id").alias("hi_id"), F.col("_v").alias("_vb"), "cid"
    )
    near = (
        a.join(b, "cid")
        .where(F.col("lo_id") < F.col("hi_id"))
        .select("cid", "lo_id", "hi_id", F.round(pair_dot("_va", "_vb"), 9).alias("sim"))
        .where(F.col("sim") >= threshold)
    )
    dropped_ids = near.select(F.col("hi_id").alias("doc_id")).distinct()
    kept = assigned.join(dropped_ids, "doc_id", "leftanti").select("doc_id", "cid", "_v")
    return kept, near

"""Product quantization (PQ) — the codebook leg of IVF-PQ, the
standard memory layout for billion-vector / 100 TB-scale ANN.

A D-dim vector splits into M contiguous subspaces of D/M dims; each
subvector is replaced by the id of its nearest per-subspace centroid
(K entries → log2(K) bits per subspace). At D=64 float32 = 256 B per
vector; M=8 × K=16 codes = 4 B — 64× compression, which is what lets
the candidate index live in executor memory while full-precision
vectors stay in parquet for an optional rescore pass.

Asymmetric-distance scoring (ADC: query in float, corpus decoded from
codebooks) is EXACTLY dot(q, decode(code)) = Σ_m dot(q_m, c_m[code_m])
— so scoring reconstructed vectors through the shared ``brute_topk``
JVM/kernel path IS ADC with no second scoring code path to drift
(the int8_quantized_recall discipline, queries_vector.py).

Codebook training follows the ``train_centroids`` bounds: a ≤100k-row
driver-side sample, sorted by id before the seeded init so the
codebooks are a pure function of (data, seed); encode/decode are
Arrow-batched pandas UDFs over the distributed corpus — the full
corpus never touches the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_dba_tools_spark.operators.partitioning import fan_out
from lakehouse_dba_tools_spark.similarity.vector import as_double, l2_normalize


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_fraction: float = 1.0,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace k-means codebooks, shape (m, k, dim/m).

    Trained on L2-NORMALIZED vectors (the scoring space). Euclidean
    k-means per subspace — the classic PQ objective; empty clusters
    keep their previous centroid, ties in assignment break to the
    lowest centroid id (argmin), so training is deterministic for a
    fixed (sample, seed).
    """
    pdf = (
        corpus.select(
            F.col(id_col).alias("_id"),
            l2_normalize(as_double(vec_col)).alias("v"),
        )
        .sample(fraction=sample_fraction, seed=seed)
        # Deterministic cap: orderBy before limit plans as
        # TakeOrderedAndProject, so the 100k rows chosen are a pure
        # function of (data, seed) regardless of partitioning — a bare
        # limit() would take whichever partitions answered first.
        .orderBy("_id")
        .limit(100_000)
        .toPandas()
    )
    X = np.array(pdf["v"].tolist(), dtype=np.float64)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, dsub), dtype=np.float64)
    for mi in range(m):
        S = X[:, mi * dsub : (mi + 1) * dsub]
        cents = S[rng.choice(n, size=min(k, n), replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(cents)):
                members = S[assign == j]
                if len(members):
                    cents[j] = members.mean(axis=0)
        books[mi, : len(cents)] = cents
        if len(cents) < k:  # degenerate tiny sample: pad by repetition
            books[mi, len(cents) :] = cents[0]
    return books


def pq_encode_udf(codebooks: np.ndarray) -> Column:
    """UDF: vec → array<int> of per-subspace nearest-centroid codes.
    Input is L2-normalized inside the kernel to match the training
    space."""
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = B.shape

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        X = np.array(vecs.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        S = X.reshape(len(X), m, dsub)  # (n, m, dsub)
        # ||s - c||² per subspace; argmin ties → lowest code id
        d2 = ((S[:, :, None, :] - B[None, :, :, :]) ** 2).sum(axis=3)  # (n, m, k)
        codes = d2.argmin(axis=2).astype(np.int32)
        return pd.Series(list(codes))

    return encode


def pq_decode_udf(codebooks: np.ndarray) -> Column:
    """UDF: array<int> codes → reconstructed array<double> vector
    (concatenated per-subspace centroids)."""
    B = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = B.shape

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def decode(codes: pd.Series) -> pd.Series:
        C = np.array(codes.tolist(), dtype=np.int64)  # (n, m)
        rec = B[np.arange(m)[None, :], C]  # (n, m, dsub)
        return pd.Series(list(rec.reshape(len(C), m * dsub)))

    return decode


def pq_reconstructed(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus with ``vec_col`` replaced by its PQ round-trip
    (encode → decode) — everything the index would know about each
    vector. One fused column pipeline, no extra shuffle."""
    enc = pq_encode_udf(codebooks)
    dec = pq_decode_udf(codebooks)
    return fan_out(corpus).withColumn(vec_col, dec(enc(F.col(vec_col))))


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """The full PQ serving pipeline: ADC shortlist → exact rerank.

    Stage 1 scores every CODE (the 4-8 byte reconstruction) against
    each query and keeps a ``shortlist`` of candidates — at 100 TB the
    scoring pass touches only the code column, 64× smaller than the
    float vectors. Stage 2 fetches full-precision vectors for just the
    |queries| × shortlist survivors (an id semi-join against the
    parquet scan — column pruning keeps the fetch to the hit rows) and
    reranks exactly. Compose with the IVF index's coarse lists
    (similarity/index.py) for true IVF-PQ when even scanning all codes
    is too much.
    """
    from lakehouse_dba_tools_spark.similarity.search import _topk_by_sim, brute_topk
    from lakehouse_dba_tools_spark.similarity.vector import dot

    books = train_pq_codebooks(
        corpus, m=m, k=k_codes, vec_col=vec_col, id_col=id_col, seed=seed
    )
    rec = pq_reconstructed(corpus, books, vec_col=vec_col)
    short = brute_topk(
        rec, queries, k=shortlist, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select("query_id", "neighbor_id")
    cand = short.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            l2_normalize(as_double(vec_col)).alias("_cv"),
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        l2_normalize(as_double(vec_col)).alias("_qv"),
    )
    rescored = cand.join(F.broadcast(q), "query_id").select(
        "query_id", "neighbor_id", F.round(dot(F.col("_cv"), F.col("_qv")), 9).alias("sim")
    )
    return _topk_by_sim(rescored, k)

"""MinHash + LSH near-duplicate detection.

Pipeline (all JVM-side until the final pair join):

1. shingle   : word k-shingles per doc — one projection, no shuffle
2. minhash   : H permutations h_i(x) = (a_i·x + b_i) mod p over
               xxhash64(shingle); signature computed as H
               transform+array_min expressions in ONE projection —
               no explode, no shuffle
3. banding   : split the signature into b bands of r rows
               (b·r = H); band key = hash(band values). Explode to
               (doc, band_idx, band_key) — b rows per doc, tiny
4. bucket-join: self-join on (band_idx, band_key) with doc_a < doc_b →
               candidate pairs. THE only shuffle of the pipeline, on
               the band key; AQE handles hot buckets
5. verify    : exact Jaccard on distinct-shingle arrays for candidates

Scale: the shuffle payload is (id, band_key) pairs, never text. Hot
buckets (boilerplate docs) are the skew risk — ``max_bucket_size``
caps them (standard practice: a bucket with >N docs is boilerplate;
handle via exact-hash dedup instead).

Determinism: permutation coefficients come from a seeded
``random.Random``; same seed → identical signatures and candidates.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakehouse_dba_tools_spark.functions.text import word_shingles
from lakehouse_dba_tools_spark.operators.partitioning import fan_out

# 31-bit Mersenne prime: keeps a·x + b within int64 (a, x < 2^31 →
# product < 2^62). Plenty of hash space for minhash permutations.
MERSENNE_P = (1 << 31) - 1


def _perm_coeffs(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(num_perm)]


def with_shingle_set(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingles) with distinct word k-shingles. Fans out first:
    shingling + signatures are CPU-bound and must not serialize on a
    single input split."""
    return fan_out(df).select(
        F.col(id_col), F.array_distinct(word_shingles(text_col, k)).alias("shingles")
    )


def with_minhash_signature(
    shingled: DataFrame, num_perm: int = 64, seed: int = 42
) -> DataFrame:
    """Append ``signature: array<bigint>`` of length ``num_perm``.

    Hybrid kernel: shingle hashing stays JVM-side (one ``transform`` of
    ``xxhash64``), the H-permutation min-fold runs as a numpy
    broadcast in an Arrow-batched pandas UDF — H interpreted
    higher-order passes per row collapse into one (S×H) integer matmul
    per batch. Integer math is exact, so signatures are bit-identical
    to the pure-column formulation.
    """
    shingle_hashes = F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
    return shingled.withColumn(
        "signature", _signature_udf(num_perm, seed)(shingle_hashes)
    )


def _signature_udf(num_perm: int, seed: int):
    """The permutation min-fold over an ``array<bigint>`` of xxhash64'd
    shingles. Factored out so signatures can be recomputed from a
    STORED shingle-hash column (dedup/index.py rebuild — `shash` holds
    exactly these hashes) bit-identically to the text path."""
    fold = min_fold(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def signature(hash_arrays: pd.Series) -> pd.Series:
        return pd.Series(fold(hash_arrays))

    return signature


def min_fold(num_perm: int, seed: int):
    """The signature kernel: a function from arrays of xxhash64'd
    shingles to their ``num_perm`` permutation minima (lists of ints;
    an empty array signs as zeros). The pandas UDF runs it on the
    executors, and a verb holding a micro-batch on the driver runs the
    same function there. The minimum of a hash multiset is the minimum
    of its distinct set, so the distinct ``shash`` arrays sign like the
    raw hashes."""
    coeffs = _perm_coeffs(num_perm, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)  # (H,)
    B = np.array([b for _, b in coeffs], dtype=np.int64)

    def fold(hash_arrays) -> list[list[int]]:
        out = []
        for hashes in hash_arrays:
            if hashes is None or len(hashes) == 0:
                out.append([0] * len(A))
                continue
            x = np.abs(np.asarray(hashes, dtype=np.int64)) % MERSENNE_P  # (S,)
            sig = ((x[:, None] * A[None, :] + B[None, :]) % MERSENNE_P).min(axis=0)
            out.append(sig.tolist())
        return out

    return fold


def band_key_array(signature: Column, bands: int, rows_per_band: int) -> Column:
    """The ``bands`` band keys of a signature, in band order: band i's
    key hashes the signature's i-th run of ``rows_per_band`` values."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(signature, i * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
            )
        ),
    )


def band_keys(
    signed: DataFrame, id_col: str = "doc_id", bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Explode the signature into (id, band_idx, band_key) — b rows/doc."""
    return signed.select(
        id_col,
        F.posexplode(
            band_key_array(F.col("signature"), bands, rows_per_band)
        ).alias("band_idx", "band_key"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int = 200,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash LSH.

    ``shingled``: pre-computed ``with_shingle_set`` frame to reuse —
    shingling is the CPU-heavy stage, so a caller that also needs the
    shingle sets (e.g. the verify step) must not pay it twice.
    """
    if num_perm % bands != 0:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    if shingled is None:
        shingled = with_shingle_set(df, text_col, id_col, k)
    signed = with_minhash_signature(shingled, num_perm, seed)
    bk = band_keys(signed, id_col, bands, num_perm // bands)
    # Skew guard: drop boilerplate buckets (scale rule — a huge bucket
    # means near-identical boilerplate; route those to exact dedup).
    sized = bk.groupBy("band_idx", "band_key").agg(
        F.collect_list(id_col).alias("ids"), F.count("*").alias("n")
    ).filter((F.col("n") >= 2) & (F.col("n") <= max_bucket_size))
    pairs = sized.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda a: F.transform("ids", lambda b: F.struct(a.alias("a"), b.alias("b"))),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")).distinct()
    return pairs


def lsh_candidate_pairs_bipartite(
    batch_shingled: DataFrame,
    corpus_shingled: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Candidate pairs BETWEEN a new batch and an existing corpus —
    the incremental-ingest shape of near-dup detection. Both sides get
    the same banded signatures (same seed — signatures must share the
    permutation family to collide); the join is batch-bands ⋈
    corpus-bands on (band_idx, band_key), so cost scales with
    |batch| · collision rate, never |corpus|². In production the
    corpus band table is precomputed once and reused every ingest
    (here it derives inline). Returns (id_a=batch id, id_b=corpus id)
    distinct pairs; self-pairs (same id on both sides) are dropped so
    a batch overlapping the corpus won't match itself."""
    if num_perm % bands != 0:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    rows = num_perm // bands
    b_keys = band_keys(
        with_minhash_signature(batch_shingled, num_perm, seed), id_col, bands, rows
    ).withColumnRenamed(id_col, "id_a")
    c_keys = band_keys(
        with_minhash_signature(corpus_shingled, num_perm, seed), id_col, bands, rows
    ).withColumnRenamed(id_col, "id_b")
    # Skew guard on the corpus side (boilerplate band buckets): cap
    # bucket membership like the self-join path does.
    from pyspark.sql import Window

    c_sized = (
        c_keys.withColumn(
            "_n", F.count("*").over(Window.partitionBy("band_idx", "band_key"))
        )
        .filter(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )
    return (
        b_keys.join(c_sized, ["band_idx", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_pairs_exact_jaccard(
    pairs: DataFrame,
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs, scale-shaped.

    Two refinements over the naive arrays-join, both exactness-preserving:

    - **Size-ratio prefilter**: J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/
      max(|A|,|B|), so a pair whose shingle-count ratio falls below the
      threshold cannot verify — pruned while the join still carries two
      ints per side, BEFORE any shingle array is shuffled. (A 1e-9
      epsilon keeps float rounding from over-pruning boundary pairs;
      the final exact filter still decides.)
    - **Hashed intersection**: the set algebra runs over xxhash64'd
      shingles (8-byte longs) instead of the shingle strings — ~2.5×
      smaller shuffle payload and cheaper equality. Collisions (2⁻⁶⁴
      per pair-union) are the only divergence risk from string-exact
      Jaccard; the per-round oracle hash-check would surface one.
    """
    from pyspark import StorageLevel

    hashed = hashed_shingles(shingled, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    # Persisted: both join sides below consume it; without it each
    # re-shingles the corpus. Evictable blocks,
    # ids+longs only — but the CacheManager reference is strong, so
    # callers that materialize lazily should pass ``caches`` and
    # unpersist the exported handle afterwards (same contract as
    # verified_near_dups; r12 leak audit).
    if caches is not None:
        caches.append(hashed)
    return verify_pairs_exact_jaccard_hashed(pairs, hashed, hashed, id_col, threshold)


def hashed_shingles(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, shash) with distinct xxhash64'd shingles — the compact
    (8-byte-per-shingle) representation exact-Jaccard verification
    joins on, and the form a persisted index stores instead of text."""
    return shingled.select(
        F.col(id_col),
        F.array_distinct(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("shash"),
    )


def verify_pairs_exact_jaccard_hashed(
    pairs: DataFrame,
    hashed_a: DataFrame,
    hashed_b: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verify over pre-hashed shingle sets, with the two
    pair sides possibly sourced from DIFFERENT frames — the
    incremental-index shape, where ``id_a`` rows come from the fresh
    batch and ``id_b`` rows from the stored index's shash table (never
    recomputed from corpus text). Same size-ratio prefilter and hashed
    set algebra as ``verify_pairs_exact_jaccard``.

    Each side is scanned ONCE, carrying (id, size, payload) through a
    single join per side. The earlier two-phase form (an ids+sizes
    join to ratio-prune, then a second payload join) read ``hashed_b``
    — the full stored index table on the incremental path — TWICE per
    query; since ``size(shash)`` already reads the payload column,
    the sizes pass saved nothing at the scan and doubled the index
    I/O. The ratio prefilter keeps its job (pairs it rejects never
    reach the set algebra).

    Which side of each join is broadcast is Spark's size-based choice.
    A join's estimated output size is the product of its inputs', so
    unhinted, a small stored table is usually the smaller side and is
    broadcast whole: at a 2,000-doc LSH index the executed plan shows
    ``BroadcastExchange`` over the ``FileScan parquet [doc_id, shash]``.
    A caller whose pair set is small passes it broadcast-hinted
    (``F.broadcast(pairs)``). The ``hashed_b`` join runs first, so the
    hint lands on the join against the stored table, whose scan then
    streams."""
    a = hashed_a.select(
        F.col(id_col).alias("id_a"),
        F.size("shash").alias("n_a"),
        F.col("shash").alias("sh_a"),
    )
    b = hashed_b.select(
        F.col(id_col).alias("id_b"),
        F.size("shash").alias("n_b"),
        F.col("shash").alias("sh_b"),
    )
    pruned = (
        pairs.join(b, "id_b")
        .join(a, "id_a")
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= (threshold - 1e-9) * F.greatest("n_a", "n_b").cast("double")
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pruned.select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def verified_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    threshold: float = 0.5,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold.

    The shingle frame is computed ONCE and persisted across its two
    consumers (signature path + verify join) — shingling dominates CPU,
    and without the persist Spark's lazy evaluation would re-shingle
    the corpus for each. MEMORY_AND_DISK so a corpus bigger than the
    cache spills instead of failing; blocks are evictable either way.

    The persists are strong CacheManager references (never GC'd), and
    the returned pair frame is lazy, so the caches must outlive the
    caller's materialization: pass ``caches`` (a list) and BOTH pinned
    frames (the shingle pass here and the hashed verify payloads
    inside verify_pairs_exact_jaccard) are appended for the CALLER to
    unpersist once the pairs are materialized — a long-running session
    calling this per round would otherwise accumulate corpus-sized
    cache entries per call (the round-11 ADVICE leak). With
    ``caches=None`` the handles are simply not exported; one-shot
    callers (tests, notebooks) may accept the session-lifetime
    entries, every in-repo query caller passes a list.
    """
    from pyspark import StorageLevel

    shingled = with_shingle_set(df, text_col, id_col, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if caches is not None:
        caches.append(shingled)
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, k, num_perm, bands, seed, shingled=shingled
    )
    return verify_pairs_exact_jaccard(
        pairs, shingled, id_col, threshold, caches=caches
    )

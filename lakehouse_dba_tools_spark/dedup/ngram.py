"""Exact n-gram Jaccard similarity — the brute-force near-dup baseline.

O(n²) pairwise on distinct word-shingle sets. This is the CORRECTNESS
oracle for the MinHash-LSH path (dedup/minhash.py), not the
scale path: at 100 TB you never materialize the cross join — you run
LSH and verify only candidates. Kept because (a) small dims/corpora
genuinely use it, (b) the driver's differential gate needs an
SQL-expressible near-dup query.

The self-join is broadcast when the shingled side is small; the
id_a < id_b predicate halves the pair space before the filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.dedup.minhash import with_shingle_set


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold."""
    sh = with_shingle_set(df, text_col, id_col, k)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )

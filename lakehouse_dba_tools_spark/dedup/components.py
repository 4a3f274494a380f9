"""Connected components over near-dup pairs → canonical keeper per doc.

The missing last step of every dedup pipeline: pair lists (from
MinHash or embedding LSH) say *who matches whom*; deleting dups
needs *groups*. Near-dup similarity is not transitive, but dedup
treats it as an equivalence by taking connected components of the
pair graph (standard practice in pretraining-corpus dedup).

Algorithm: iterative min-label propagation — every node starts as its
own component (its id); each round every node adopts the minimum
component id among itself and its neighbors; converged when no label
changes. This is the dataframe-native form of the large-star/small-star
map-reduce CC algorithm: O(graph diameter) rounds, each round one
join + one aggregation (two shuffles on the node id). Near-dup graphs
are unions of small cliques-ish clusters (diameter ≤ ~3), so 2-4
rounds in practice; ``max_iters`` bounds adversarial chains.

Driver-side per round: ONE scalar (count of changed labels) — the
convergence check; labels themselves never leave the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    max_driver_edges: int = 2_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``;
    component = min node id reachable through the pair graph.

    Hybrid execution (both paths return identical labels):

    - **small graphs** (≤ ``max_driver_edges`` directed edges — ≤32 MB
      of id pairs): one bounded collect + union-find on the driver.
      Near-dup edge sets are orders of magnitude smaller than the
      corpus (dups are the exception), so this is the common case and
      avoids paying ~2 shuffles × diameter rounds of fixed job latency
      for a milliseconds-sized problem. Same bounded-driver-work
      pattern as the IVF centroid sample.
    - **large graphs**: the distributed min-label loop below; set
      ``max_driver_edges=0`` to force it (the property tests do).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # Persisting edges is load-bearing: pairs usually come from an
    # expensive LSH pipeline (pandas-UDF signatures), and every
    # iteration joins against edges — without the cache each round
    # re-runs the whole upstream plan. Edge rows are two ids, so the
    # cached footprint is tiny even for billion-doc corpora.
    n_edges = edges.count()
    if n_edges <= max_driver_edges:
        id_type = pairs.schema[id_a].dataType
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            for n in (r.src, r.dst):
                if n not in parent:
                    parent[n] = n
            ra, rb = find(r.src), find(r.dst)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(n, find(n)) for n in parent]
        edges.unpersist()
        schema = T.StructType(
            [T.StructField("node", id_type), T.StructField("comp", id_type)]
        )
        return pairs.sparkSession.createDataFrame(out, schema)

    # localCheckpoint (not persist) per round: iterative self-reference
    # grows the LOGICAL plan by two joins per round — after ~10 rounds
    # plan traversal itself stack-overflows. Checkpointing stores the
    # round's partitions executor-side AND truncates lineage, so every
    # round starts from a leaf. eager=False: the convergence aggregate
    # below is the round's one materializing action.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("n_comp", F.col("comp"))).alias("comp"),
                (F.col("comp") != F.least(F.col("comp"), F.coalesce("n_comp", F.col("comp"))))
                .cast("long")
                .alias("_changed"),
            )
        ).localCheckpoint(eager=False)
        # ONE action per round: the aggregate materializes the
        # checkpoint and returns the convergence scalar.
        changed = new_labels.agg(F.sum("_changed")).collect()[0][0] or 0
        labels = new_labels  # _changed rides along; dropped on return
        if changed == 0:
            break
    edges.unpersist()
    return labels.drop("_changed")


def canonicalize_near_dups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-doc keeper assignment: docs in a dup component map to the
    component's min id; singletons keep themselves. Filtering
    ``keeper == doc`` yields the deduplicated corpus."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("keeper_id"),
        )
    )

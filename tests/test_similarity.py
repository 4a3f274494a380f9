from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.similarity.search import (
    brute_topk,
    ivf_topk_curve,
    lsh_topk_curve,
)
from lakehouse_dba_tools_spark.similarity.vector import as_double, dot, l2_norm
from lakehouse_dba_tools_spark.sources.tables import load_table


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def test_vector_math(spark):
    df = spark.createDataFrame([([3.0, 4.0], [4.0, 3.0])], "a array<double>, b array<double>")
    row = df.select(
        l2_norm(F.col("a")).alias("n"),
        F.round(cosine(F.col("a"), F.col("b")), 6).alias("c"),
    ).collect()[0]
    assert row.n == 5.0
    assert row.c == 0.96


def test_brute_topk_self_is_rank1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    top = brute_topk(emb, q, k=3)
    r1 = {r.query_id: r.neighbor_id for r in top.filter("rank = 1").collect()}
    assert r1 == {i: i for i in range(5)}


def _recall(approx, exact):
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.query_id, set()).add(r.neighbor_id)
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    total = sum(len(v) for v in ex.values())
    return hits / total


def test_embedding_near_dup_lsh_finds_planted_dups(spark):
    """Plant true near-duplicates (cos ≈ 0.99) in a random corpus: the
    LSH path must recover every planted pair at threshold 0.9."""
    import numpy as np

    from lakehouse_dba_tools_spark.similarity.search import embedding_near_dups

    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 64))
    rows = [(i, base[i].tolist()) for i in range(200)]
    # 10 planted near-dups: id 1000+i ≈ id i + tiny noise
    for i in range(10):
        noisy = base[i] + 0.02 * rng.standard_normal(64)
        rows.append((1000 + i, noisy.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_near_dups(
            df, threshold=0.9, n_planes=8, n_tables=8, dim=64, seed=42
        ).collect()
    }
    assert {(i, 1000 + i) for i in range(10)} <= pairs


def test_lsh_and_ivf_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_topk(emb, q, k=3)
    lsh_handles, [(_, lsh)] = lsh_topk_curve(
        emb, q, k=3, n_planes=6, n_tables_list=(8,), dim=64, seed=42
    )
    ivf_assign, [(_, ivf)] = ivf_topk_curve(
        emb, q, k=3, n_centroids=8, nprobes=(4,), seed=42
    )
    try:
        assert _recall(lsh, exact) >= 0.5
        assert _recall(ivf, exact) >= 0.6
        # rank-1 self matches always survive (bucket contains the query itself)
        assert _recall(lsh.filter("rank = 1"), exact.filter("rank = 1")) == 1.0
    finally:
        for h in (*lsh_handles, ivf_assign):
            h.unpersist()


def test_recall_one_configs_equal_brute(spark, sf_dir):
    """The exhaustive configurations are EXACT on the fixture corpus:
    LSH at 3 planes x 24 tables and IVF at nprobe=n_centroids must
    reproduce brute force bit-for-bit (the recall-1.0 settings the
    near-dup and full-probe index carriers rely on)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {tuple(r) for r in brute_topk(emb, q, k=3).collect()}
    lsh_handles, [(_, lsh_df)] = lsh_topk_curve(
        emb, q, k=3, n_planes=3, n_tables_list=(24,), dim=64, seed=42
    )
    ivf_assign, [(_, ivf_df)] = ivf_topk_curve(
        emb, q, k=3, n_centroids=8, nprobes=(8,), seed=42
    )
    try:
        lsh = {tuple(r) for r in lsh_df.collect()}
        ivf = {tuple(r) for r in ivf_df.collect()}
    finally:
        for h in (*lsh_handles, ivf_assign):
            h.unpersist()
    assert lsh == exact
    assert ivf == exact


def test_ivf_recall_improves_with_nprobe(spark, sf_dir):
    """The recall/cost dial: more probed lists -> monotonically better
    (measured, not assumed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_topk(emb, q, k=3)
    assign, curve = ivf_topk_curve(
        emb, q, k=3, n_centroids=8, nprobes=(2, 4, 8), seed=42
    )
    try:
        r = [_recall(ivf, exact) for _, ivf in curve]
    finally:
        assign.unpersist()
    assert r[0] <= r[1] <= r[2]
    assert r[2] == 1.0


def test_semantic_dedup_contract(spark, sf_dir):
    """SemDeDup keep rule: kept docs are pairwise below threshold
    within every cluster, and dropped docs each have a lower-id near
    cluster-mate. Verified by brute recomputation on the fixture."""
    from pyspark.sql import functions as F

    from lakehouse_dba_tools_spark.sources.tables import load_table
    from lakehouse_dba_tools_spark.similarity.search import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    kept, near = semantic_dedup(emb, threshold=0.35, n_centroids=8)
    kept_rows = kept.select("doc_id", "cid").collect()
    near_rows = near.collect()
    kept_ids = {r.doc_id for r in kept_rows}
    dropped = {r.hi_id for r in near_rows}
    n_docs = emb.count()
    assert len(kept_ids) + len(dropped) == n_docs
    assert kept_ids.isdisjoint(dropped)
    # no near pair survives with both endpoints kept
    assert not any(r.lo_id in kept_ids and r.hi_id in kept_ids for r in near_rows)
    # every dropped doc has a lower-id near partner
    for r in near_rows:
        assert r.lo_id < r.hi_id


def test_semantic_dedup_deterministic_across_partitionings(spark, sf_dir):
    from lakehouse_dba_tools_spark.sources.tables import load_table
    from lakehouse_dba_tools_spark.similarity.search import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    k1, _ = semantic_dedup(emb.repartition(3), threshold=0.35, n_centroids=8)
    k2, _ = semantic_dedup(emb.repartition(13), threshold=0.35, n_centroids=8)
    assert sorted(r.doc_id for r in k1.collect()) == sorted(
        r.doc_id for r in k2.collect()
    )


def test_pq_codebooks_deterministic_and_codes_bounded(spark, sf_dir):
    import numpy as np

    from lakehouse_dba_tools_spark.similarity.pq import (
        pq_encode_udf,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = train_pq_codebooks(emb, m=8, k=16)
    b2 = train_pq_codebooks(emb, m=8, k=16)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)  # pure function of (data, seed)

    codes = (
        emb.select(pq_encode_udf(b1)(F.col("embedding")).alias("c"))
        .select(F.explode("c").alias("code"))
        .agg(F.min("code"), F.max("code"), F.count("*"))
        .first()
    )
    assert codes[0] >= 0 and codes[1] < 16
    assert codes[2] == emb.count() * 8  # m codes per vector


def test_pq_roundtrip_reduces_distortion_vs_random(spark, sf_dir):
    """Reconstruction from trained codebooks must beat reconstructing
    from a shuffled (wrong) codebook — i.e. training actually fits."""
    import numpy as np

    from lakehouse_dba_tools_spark.similarity.pq import (
        pq_reconstructed,
        train_pq_codebooks,
    )
    from lakehouse_dba_tools_spark.similarity.vector import as_double, l2_normalize

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    books = train_pq_codebooks(emb, m=8, k=16)
    rng = np.random.default_rng(0)
    scrambled = books[:, rng.permutation(16)][rng.permutation(8)]

    def mean_err(bk):
        rec = pq_reconstructed(
            emb.select("vec_id", l2_normalize(as_double("embedding")).alias("orig")),
            bk,
            vec_col="orig",
        ).withColumnRenamed("orig", "rec")
        both = rec.join(
            emb.select("vec_id", l2_normalize(as_double("embedding")).alias("orig")),
            "vec_id",
        )
        return (
            both.select(
                F.aggregate(
                    F.zip_with("rec", "orig", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("se")
            )
            .agg(F.avg("se"))
            .first()[0]
        )

    assert mean_err(books) < mean_err(scrambled)


def test_pq_rerank_recall_floor(spark, sf_dir):
    from lakehouse_dba_tools_spark.similarity.pq import pq_topk_rerank
    from lakehouse_dba_tools_spark.similarity.search import brute_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = brute_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = pq_topk_rerank(emb, q, k=5, shortlist=100, m=16, k_codes=16).select(
        "query_id", "neighbor_id"
    )
    recall = approx.join(truth, ["query_id", "neighbor_id"]).count() / truth.count()
    assert recall >= 0.85


def test_ivf_index_lifecycle_and_pruning(spark, sf_dir, tmp_path):
    """Persisted IVF index (similarity/index.py): full-probe queries
    against the stored lists equal brute force (incl. vectors that
    arrived via append), and partial-probe queries scan only the
    probed list partitions."""
    import os

    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
        read_ivf_meta,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    meta = build_ivf_index(
        emb.filter(F.col("vec_id") % 10 != 0), path, n_centroids=4, seed=42
    )
    assert read_ivf_meta(path)["n_centroids"] == 4
    append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == 0), path)

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # exact setting: stored-index answer == brute force over everything
    got = query_ivf_index(spark, q, path, k=3, nprobe=4)
    want = brute_topk(emb, q, k=3)
    as_set = lambda df: {(r.query_id, r.neighbor_id, r.sim, r.rank) for r in df.collect()}
    assert as_set(got) == as_set(want)
    # appended vectors are findable: query 0 lives in the appended
    # batch and must be its own rank-1 neighbor
    r1 = {r.query_id: r.neighbor_id for r in got.filter("rank = 1").collect()}
    assert r1[0] == 0

    # partial probe: the parquet scan is pruned to the probed lists
    pruned = query_ivf_index(spark, q, path, k=3, nprobe=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    n_lists = len(
        [d for d in os.listdir(os.path.join(path, "lists")) if d.startswith("cid=")]
    )
    assert n_lists == 4
    # every query still gets k results (from its probed list alone)
    assert {r.query_id for r in pruned.collect()} == set(range(5))
    # the probed-cid filter reaches the scan as a PARTITION filter —
    # the p/C index-bytes win, not a post-read row filter
    assert "PartitionFilters: [cid" in plan
    # and the scan's FILE LISTING is scoped to the probed directories
    # (query_ivf_index hands the reader only the probed cid dirs, so
    # listing/planning cost is ∝ nprobe, not n_centroids): one query
    # at nprobe=1 probes exactly one list, and the scan's Location must
    # name that single cid directory — a root-dir scan would list all 4
    spark.conf.set("spark.sql.maxMetadataStringLength", "500")
    try:
        one = query_ivf_index(spark, q.limit(1), path, k=3, nprobe=1)
        plan1 = one._jdf.queryExecution().executedPlan().toString()
        loc = [ln for ln in plan1.splitlines() if "Location" in ln and "cid=" in ln]
        assert loc and sum(f"cid={c}" in loc[0] for c in range(4)) == 1
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")


def test_ivf_index_replay_and_compaction(spark, sf_dir, tmp_path):
    """A replayed append leaves duplicate list rows; queries must not
    let duplicates eat top-k slots, and compaction folds them and
    bin-packs each cid partition without changing any answer."""
    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        query_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 10 != 0), path, n_centroids=4, seed=42)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    append_to_ivf_index(batch, path)
    append_to_ivf_index(batch, path)  # replayed epoch

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    as_set = lambda df: {(r.query_id, r.neighbor_id, r.sim, r.rank) for r in df.collect()}
    want = as_set(brute_topk(emb, q, k=3))
    assert as_set(query_ivf_index(spark, q, path, k=3, nprobe=4)) == want

    stats = compact_ivf_index(spark, path)
    assert as_set(query_ivf_index(spark, q, path, k=3, nprobe=4)) == want
    # duplicates folded: one list row per vector
    assert stats["rows"] == emb.count()
    # bin-packed: at most one file per cid partition
    assert stats["files_after"] <= 4 <= stats["files_before"]


def test_ivf_drift_report_and_rebuild(spark, sf_dir, tmp_path):
    """Drift maintenance: the report's per-list avg cosine reflects the
    frozen quantizer's fit; rebuild re-trains on the stored vectors and
    full-probe answers are invariant under it (every list is scanned
    either way), while the rebuilt quantizer covers the full corpus
    (its drift report must not be worse than the stale one)."""
    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_drift_report,
        query_ivf_index,
        read_ivf_meta,
        rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    # train on a BIASED slice (first half by id) then append the rest:
    # the frozen quantizer has never seen the appended distribution
    n = emb.count()
    build_ivf_index(emb.filter(F.col("vec_id") < n // 2), path, n_centroids=4, seed=42)
    append_to_ivf_index(emb.filter(F.col("vec_id") >= n // 2), path)

    stale = {r.cid: (r.n_vectors, r.avg_sim) for r in ivf_drift_report(spark, path).collect()}
    assert sum(v[0] for v in stale.values()) == n
    assert all(-1.0 <= v[1] <= 1.0 for v in stale.values())

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    as_set = lambda df: {(r.query_id, r.neighbor_id, r.sim, r.rank) for r in df.collect()}
    want = as_set(brute_topk(emb, q, k=3))
    assert as_set(query_ivf_index(spark, q, path, k=3, nprobe=4)) == want

    meta = rebuild_ivf_index(spark, path)
    assert read_ivf_meta(path) == meta
    # full-probe invariance under rebuild
    assert as_set(query_ivf_index(spark, q, path, k=3, nprobe=4)) == want
    rebuilt = {r.cid: (r.n_vectors, r.avg_sim) for r in ivf_drift_report(spark, path).collect()}
    assert sum(v[0] for v in rebuilt.values()) == n
    # the re-trained quantizer saw the whole corpus: overall weighted
    # fit must not degrade vs the stale one
    stale_fit = sum(nv * s for nv, s in stale.values()) / n
    rebuilt_fit = sum(nv * s for nv, s in rebuilt.values()) / n
    assert rebuilt_fit >= stale_fit - 1e-9


def test_ivf_rebuild_meta_rows_match_footers(spark, sf_dir, tmp_path):
    """A rebuild publishes through ``indexio.write_versions``: after an
    append, the rebuilt meta's ``rows`` are the rebuilt lists' footer
    count and the index reads as dup-free."""
    from lakehouse_dba_tools_spark.maintenance.history import footer_row_count
    from lakehouse_dba_tools_spark.operators.indexio import is_dup_free, open_snapshot
    from lakehouse_dba_tools_spark.similarity.index import (
        IVF_TABLES,
        append_to_ivf_index,
        build_ivf_index,
        rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 10 != 0), path, n_centroids=4, seed=42)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == 0), path)
    meta = rebuild_ivf_index(spark, path, n_centroids=8)
    snap = open_snapshot(path, IVF_TABLES)
    assert snap.meta == meta
    assert meta["rows"] == {"lists": footer_row_count(snap.dirs["lists"])}
    assert meta["rows"] == {"lists": emb.count()}
    assert is_dup_free(snap)


def test_query_ivf_index_exclude_ids_replay_guard(spark, sf_dir, tmp_path):
    """The streaming-ANN replay guard (round-8 ADVICE): after a failed
    epoch's append, the batch is already in the index — querying with
    exclude_ids = the batch's own ids must reproduce the ORIGINAL
    epoch's earlier-arrivals-only answer (no self-hits, no same-batch
    neighbors)."""
    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    build_ivf_index(emb.filter(F.col("vec_id") % 10 != 0), path, n_centroids=4, seed=42)

    q = batch.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.sim, r.rank) for r in df.collect()
    }
    original = as_set(query_ivf_index(spark, q, path, k=3, nprobe=4))
    # failed attempt appended the batch; replayed query must match
    append_to_ivf_index(batch, path)
    replay = as_set(
        query_ivf_index(
            spark, q, path, k=3, nprobe=4, exclude_ids=batch.select("vec_id")
        )
    )
    assert replay == original
    # and WITHOUT the guard the batch finds itself (sim 1.0 self-hits)
    unguarded = query_ivf_index(spark, q, path, k=3, nprobe=4)
    self_hits = {
        r.query_id for r in unguarded.collect() if r.query_id == r.neighbor_id
    }
    assert self_hits == {r.query_id for r in q.collect()}


def test_ivf_query_planned_before_rebuild_completes_on_its_snapshot(spark, sf_dir, tmp_path):
    """The rebuild-race contract (round-8 ADVICE): centroids and lists
    co-publish behind one pointer flip, and retention keeps the
    superseded version — so a query PLANNED before a rebuild evaluates
    on its own complete snapshot (old lists + old centroids), and at
    full probe its answer equals brute force, before AND after the
    rebuild lands. A query planned after sees the new snapshot and
    agrees (full-probe invariance)."""
    from lakehouse_dba_tools_spark.similarity.index import (
        build_ivf_index,
        query_ivf_index,
        read_ivf_meta,
        rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=4, seed=42)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.sim, r.rank) for r in df.collect()
    }
    want = as_set(brute_topk(emb, q, k=3))
    planned = query_ivf_index(spark, q, path, k=3, nprobe=4)  # binds v0+meta
    rebuild_ivf_index(spark, path, n_centroids=8, seed=7)  # publishes v1
    assert read_ivf_meta(path)["n_centroids"] == 8
    # the pre-rebuild plan evaluates on the retained snapshot it bound
    assert as_set(planned) == want
    # a post-rebuild full-probe query agrees (rebuild invariance)
    assert as_set(query_ivf_index(spark, q, path, k=3, nprobe=8)) == want


def test_ivf_manifest_tracks_every_writer_and_feeds_the_query(spark, sf_dir, tmp_path):
    """The cid manifest (meta["cids"]) is refreshed by every locked
    writer — build, append, compact, rebuild — always matching the
    version directory's actual cid= listing; queries consult it
    instead of probing the filesystem."""
    import os

    from lakehouse_dba_tools_spark.operators.indexio import current_version_dir
    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        query_ivf_index,
        read_ivf_meta,
        rebuild_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")

    def actual():
        vd = current_version_dir(os.path.join(path, "lists"))
        return sorted(
            int(d.split("=", 1)[1]) for d in os.listdir(vd) if d.startswith("cid=")
        )

    build_ivf_index(emb.filter(F.col("vec_id") % 10 != 0), path, n_centroids=4, seed=42)
    assert read_ivf_meta(path)["cids"] == actual()
    append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == 0), path)
    assert read_ivf_meta(path)["cids"] == actual()
    compact_ivf_index(spark, path)
    assert read_ivf_meta(path)["cids"] == actual()
    rebuild_ivf_index(spark, path, n_centroids=8)
    assert read_ivf_meta(path)["cids"] == actual()
    # and the query path works purely off the manifest
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = query_ivf_index(spark, q, path, k=3, nprobe=8)
    want = brute_topk(emb, q, k=3)
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(got) == as_set(want)

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.dedup.exact import content_groups, drop_exact_duplicates
from lakehouse_dba_tools_spark.dedup.minhash import (
    lsh_candidate_pairs,
    verified_near_dups,
    with_minhash_signature,
    with_shingle_set,
)
from lakehouse_dba_tools_spark.dedup.ngram import jaccard_pairs
from lakehouse_dba_tools_spark.functions import text as TX
from lakehouse_dba_tools_spark.sources.tables import load_table


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (3, "completely different text about spark query engines and shuffles"),
            (4, "the quick brown fox jumps over the lazy dog again and again today"),
        ],
        "doc_id int, text string",
    )


def test_exact_dedup(spark):
    docs = _docs(spark)
    groups = content_groups(docs).collect()
    assert len(groups) == 3
    dup = [g for g in groups if g.n_copies == 2][0]
    assert dup.keeper_id == 1
    kept = drop_exact_duplicates(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3]


def test_minhash_signature_properties(spark):
    docs = _docs(spark)
    sh = with_shingle_set(docs, k=3)
    sig = with_minhash_signature(sh, num_perm=32, seed=7)
    rows = {r.doc_id: r.signature for r in sig.collect()}
    assert all(len(s) == 32 for s in rows.values())
    # identical docs → identical signatures
    assert rows[1] == rows[4]
    # near-identical docs agree on most permutations
    agree = sum(a == b for a, b in zip(rows[1], rows[2]))
    assert agree >= 20
    # unrelated docs agree on almost none
    agree_far = sum(a == b for a, b in zip(rows[1], rows[3]))
    assert agree_far <= 5


def test_lsh_finds_near_dups_and_skips_far(spark):
    docs = _docs(spark)
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs, k=3).collect()}
    assert (1, 4) in pairs and (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    verified = {(r.id_a, r.id_b): r.jaccard for r in verified_near_dups(docs, threshold=0.5).collect()}
    assert verified[(1, 4)] == 1.0
    assert 0.5 <= verified[(1, 2)] < 1.0


def test_lsh_recall_vs_exact_jaccard_fixture(spark, sf_dir):
    """On the fixture corpus, banded MinHash (b=16, r=4) must recover
    every exact-Jaccard≥0.5 pair (they're mutated prefixes, J≈0.9)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b) for r in jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in verified_near_dups(docs, threshold=0.5).collect()}
    assert exact, "fixture should contain near-dup pairs"
    assert lsh == exact


def test_text_functions(spark):
    df = spark.createDataFrame([("The quick  brown fox, it is!",)], "text string")
    row = df.select(
        TX.token_count("text").alias("tc"),
        TX.bpe_ish_token_count("text").alias("bpe"),
        F.round(TX.alpha_ratio("text"), 3).alias("alpha"),
        TX.detect_language("text").alias("lang"),
        TX.min_shingle_fingerprint("text", 3).alias("fp"),
    ).collect()[0]
    assert row.tc == 6
    assert row.bpe == 8  # 6 words + comma + bang
    assert row.lang == "en"
    assert len(row.fp) == 32


def test_detect_language_tie_and_zero(spark):
    df = spark.createDataFrame([("zzz qqq xxx",), ("der die das und",)], "text string")
    out = [r[0] for r in df.select(TX.detect_language("text")).collect()]
    assert out == ["und", "de"]


def test_verify_prefilter_equals_naive_jaccard(spark):
    """Property: the scale-shaped verify (size-ratio prefilter +
    hashed-shingle intersection) returns EXACTLY the naive all-pairs
    answer — the prefilter may never drop a qualifying pair."""
    import random

    from lakehouse_dba_tools_spark.dedup.minhash import (
        verify_pairs_exact_jaccard,
        with_shingle_set,
    )

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 18))))
        for i in range(40)
    ]

    def shingles(text):
        toks = text.split()
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expected = {}
    for i, ta in docs:
        for j, tb in docs:
            if i >= j:
                continue
            sa, sb = shingles(ta), shingles(tb)
            jac = len(sa & sb) / len(sa | sb)
            if round(jac, 6) >= 0.5:
                expected[(i, j)] = round(jac, 6)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = with_shingle_set(df)
    all_pairs = spark.createDataFrame(
        [(i, j) for i, _ in docs for j, _ in docs if i < j], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in verify_pairs_exact_jaccard(all_pairs, sh, threshold=0.5).collect()
    }
    assert got == expected


def test_bipartite_lsh_batch_vs_corpus(spark):
    from lakehouse_dba_tools_spark.dedup.minhash import (
        lsh_candidate_pairs_bipartite,
        verify_pairs_exact_jaccard,
        with_shingle_set,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (10, base),                         # batch: near-dup of corpus 1
        (20, "completely different words entirely unrelated content here now"),
        (1, base + " ok"),                  # corpus
        (2, "another unrelated corpus document with its own vocabulary set"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = with_shingle_set(docs)
    batch = sh.filter("doc_id >= 10")
    corpus = sh.filter("doc_id < 10")
    pairs = lsh_candidate_pairs_bipartite(batch, corpus, bands=32, num_perm=64)
    got = verify_pairs_exact_jaccard(pairs, sh, threshold=0.3).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(10, 1)}
    # sides are disjoint frames: no batch-batch or corpus-corpus pairs
    for r in got:
        assert r.id_a >= 10 and r.id_b < 10


def test_training_corpus_funnel_monotonic(spark, sf_dir):
    from lakehouse_dba_tools_spark.queries_text import training_corpus_funnel

    rows = {r.stage: r for r in training_corpus_funnel(spark, sf_dir).collect()}
    assert sorted(rows) == ["00_raw", "10_lang_en", "20_quality", "30_exact_dedup"]
    order = ["00_raw", "10_lang_en", "20_quality", "30_exact_dedup"]
    for a, b in zip(order, order[1:]):
        assert rows[a].n_docs >= rows[b].n_docs
        assert rows[a].n_tokens >= rows[b].n_tokens
    assert rows["00_raw"].n_docs > 0


def test_connected_components_chain_and_singleton(spark):
    from lakehouse_dba_tools_spark.dedup.components import (
        canonicalize_near_dups,
        connected_components,
    )

    # chain 1-2-3, pair 10-11, singleton 99
    pairs = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], "id_a long, id_b long")
    comp = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    keep = {r.doc_id: r.keeper_id for r in canonicalize_near_dups(docs, pairs).collect()}
    assert keep == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    survivors = sorted(k for k, v in keep.items() if k == v)
    assert survivors == [1, 10, 99]


def test_connected_components_random_vs_union_find(spark):
    """Property: CC labels equal a driver-side union-find on the same
    random edge list (min-id representative per component)."""
    import random

    from lakehouse_dba_tools_spark.dedup.components import connected_components

    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(45)})

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per node (only nodes appearing in edges)
    touched = sorted({n for e in edges for n in e})
    rep = {}
    for comp in {find(n) for n in touched}:
        members = [n for n in touched if find(n) == comp]
        m = min(members)
        for n in members:
            rep[n] = m

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    # max_driver_edges=0 forces the distributed min-label loop;
    # default exercises the driver union-find shortcut. Both must
    # match the reference union-find.
    for mde in (0, 2_000_000):
        got = {
            r.node: r.comp
            for r in connected_components(pairs, max_driver_edges=mde).collect()
        }
        assert got == rep


def test_duplicate_span_report_alignment_free(spark):
    """A shared 20-token run is detected at DIFFERENT offsets in each
    doc; within-doc repetition alone never counts as duplication."""
    from lakehouse_dba_tools_spark.dedup.exact import duplicate_span_report, span_hashes

    shared = " ".join(f"tok{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            # shared run starts at offset 0
            (1, shared + " tail1 tail2 tail3"),
            # shared run starts at offset 5
            (2, "p1 p2 p3 p4 p5 " + shared),
            # ≥20 tokens, no overlap with anyone
            (3, " ".join(f"solo{i}" for i in range(25))),
            # within-doc repetition only (two copies of its own run)
            (4, " ".join(f"rep{i % 10}" for i in range(40))),
            # too short to carry a window
            (5, "a b c"),
        ],
        "doc_id long, text string",
    )
    rep = {r["doc_id"]: r for r in duplicate_span_report(docs, window=20).collect()}

    assert 5 not in rep  # shorter than the window → no spans at all
    # doc1: 4 windows (23 tokens), exactly 1 (the shared run) duplicated
    assert rep[1]["n_spans"] == 4 and rep[1]["n_dup_spans"] == 1
    # doc2: 6 windows, exactly 1 duplicated — found despite offset 5
    assert rep[2]["n_spans"] == 6 and rep[2]["n_dup_spans"] == 1
    assert rep[3]["n_dup_spans"] == 0
    # doc4 repeats ITSELF; cross-doc rule keeps it clean
    assert rep[4]["n_dup_spans"] == 0

    # stride-1 span inventory is exhaustive: n_tokens - window + 1 rows
    n1 = span_hashes(docs.where("doc_id = 1"), window=20).count()
    assert n1 == 23 - 20 + 1


def test_remove_duplicate_spans_excises_only_non_keepers(spark):
    import hashlib

    from lakehouse_dba_tools_spark.dedup.exact import remove_duplicate_spans

    run = [f"tok{i}" for i in range(22)]  # 22-token shared run → 3 windows
    d1 = " ".join(run + ["t1", "t2", "t3"])
    d2 = " ".join(["p1", "p2", "p3", "p4", "p5"] + run + ["q1"])
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, " ".join(f"s{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicate_spans(docs, window=20).collect()}

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # keeper (min id) keeps everything
    assert out[1]["n_removed_tokens"] == 0 and out[1]["cleaned_hash"] == md5(d1)
    # doc2: 3 overlapping removal windows merge into ONE island covering
    # the whole 22-token run; prefix and suffix survive
    assert out[2]["n_islands"] == 1
    assert out[2]["n_removed_tokens"] == 22
    assert out[2]["cleaned_hash"] == md5("p1 p2 p3 p4 p5 q1")
    # untouched doc round-trips
    assert out[3]["n_removed_tokens"] == 0


def test_span_removal_converges_to_zero_cross_doc_dups(spark, sf_dir):
    """The Lee-et-al postcondition: after keeper-aware excision, a
    SECOND detection pass over the cleaned corpus finds zero cross-doc
    duplicated windows — every shared run survives in exactly one doc
    and excision seams create no new matches (1553 → 0 at sf0.01,
    checked here at the test SF)."""
    from lakehouse_dba_tools_spark.dedup.exact import (
        duplicate_span_report,
        remove_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    before = (
        duplicate_span_report(docs, window=20).agg(F.sum("n_dup_spans")).first()[0]
    )
    assert before > 0  # the fixture plants real cross-doc duplication
    cleaned = remove_duplicate_spans(docs, window=20, return_text=True).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    after = (
        duplicate_span_report(cleaned, window=20).agg(F.sum("n_dup_spans")).first()[0]
    )
    assert after == 0


def test_lsh_index_lifecycle(spark, tmp_path):
    """Persisted-index dedup (dedup/index.py): query equals the inline
    bipartite pipeline, the append makes batch-1 docs discoverable,
    and a parameter mismatch hard-fails instead of silently missing."""
    import pytest

    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        query_lsh_index,
        read_lsh_meta,
    )
    from lakehouse_dba_tools_spark.dedup.minhash import (
        lsh_candidate_pairs_bipartite,
        verify_pairs_exact_jaccard,
        with_shingle_set,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id int, text string",
    )
    batch1 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    batch2 = spark.createDataFrame(
        [(20, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    meta = build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)
    assert read_lsh_meta(path) == meta

    got = {
        (r.id_a, r.id_b)
        for r in query_lsh_index(spark, batch1, path, threshold=0.5).collect()
    }
    # same answer as the inline (non-persisted) bipartite pipeline
    sh_all = with_shingle_set(corpus.unionByName(batch1))
    inline_pairs = lsh_candidate_pairs_bipartite(
        with_shingle_set(batch1), with_shingle_set(corpus),
        num_perm=32, bands=8, seed=7,
    )
    want = {
        (r.id_a, r.id_b)
        for r in verify_pairs_exact_jaccard(
            inline_pairs, sh_all, threshold=0.5
        ).collect()
    }
    assert got == want == {(10, 1)}

    # append: batch2 must now also match the batch-1 doc it duplicates
    append_to_lsh_index(batch1, path)
    got2 = {
        (r.id_a, r.id_b)
        for r in query_lsh_index(spark, batch2, path, threshold=0.5).collect()
    }
    assert got2 == {(20, 1), (20, 10)}

    # jaccard values are exact (identical text -> 1.0)
    j = {
        (r.id_a, r.id_b): r.jaccard
        for r in query_lsh_index(spark, batch2, path, threshold=0.5).collect()
    }
    assert j[(20, 10)] == 1.0

    # a missing meta file fails loudly instead of silently finding
    # nothing (query/append take parameters FROM the stored meta, so
    # the API itself cannot diverge from what the index was built with).
    # The only copy rides INSIDE the published bands version (atomic
    # params+data publish); no root-level copy is written.
    import os as _os

    from lakehouse_dba_tools_spark.operators.indexio import current_version_dir

    assert not _os.path.exists(_os.path.join(path, "_lsh_meta.json"))
    assert query_lsh_index(spark, batch2, path, threshold=0.5).count() >= 1
    _os.remove(
        _os.path.join(
            current_version_dir(_os.path.join(path, "bands")), "_lsh_meta.json"
        )
    )
    with pytest.raises(FileNotFoundError):
        query_lsh_index(spark, batch2, path, threshold=0.5)


def test_lsh_index_compaction_idempotent(spark, tmp_path):
    """A replayed append (at-least-once foreachBatch epoch) leaves
    duplicate index rows; compaction removes them and bin-packs files
    WITHOUT changing any query answer."""
    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        query_lsh_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    probe = spark.createDataFrame(
        [(20, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)
    append_to_lsh_index(batch, path)
    append_to_lsh_index(batch, path)  # replayed epoch

    before = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in query_lsh_index(spark, probe, path, threshold=0.5).collect()
    )
    stats = compact_lsh_index(spark, path)
    after = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in query_lsh_index(spark, probe, path, threshold=0.5).collect()
    )
    assert after == before and {p[1] for p in after} == {1, 10}
    # the replayed shash rows are gone: one row per doc
    assert stats["shash"]["rows"] == 2
    assert stats["shash"]["files_after"] == 1
    assert stats["bands"]["files_after"] <= stats["bands"]["files_before"]
    # duplicated band rows are gone too: 8 bands x 2 docs
    assert stats["bands"]["rows"] == 16


def test_lsh_query_planned_before_compact_survives_it(spark, tmp_path):
    """Snapshot isolation across one compaction (indexio retention):
    a query DataFrame planned BEFORE compact binds to the resolved
    version directory, which is retained through the publish — so it
    evaluates AFTER the compact with the identical answer instead of
    failing on deleted files (and duplicate tolerance makes the
    pre-compact snapshot's answer equal the post-compact one)."""
    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        query_lsh_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)
    append_to_lsh_index(batch, path)
    append_to_lsh_index(batch, path)  # replay leaves duplicates

    lazy = query_lsh_index(spark, batch, path, threshold=0.5)  # pre-compact plan
    compact_lsh_index(spark, path)
    got = sorted((r.id_a, r.id_b, r.jaccard) for r in lazy.collect())
    fresh = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in query_lsh_index(spark, batch, path, threshold=0.5).collect()
    )
    assert got == fresh and {(a, b) for a, b, _ in got} == {(10, 1)}


def test_index_lifecycle_leaves_no_cache_entries(spark, tmp_path):
    """SQL-cache entries are not garbage collected, so a long-running
    ingest loop would leak one per batch unless every lifecycle call
    cleans up its persisted signature pass. Pin: after build +
    ingest_batch + append, the session's cache manager is empty."""
    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        ingest_batch,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again today")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    spark.catalog.clearCache()
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)
    got = {(r.id_a, r.id_b) for r in ingest_batch(spark, batch, path, 0.5).collect()}
    assert got == {(10, 1)}
    append_to_lsh_index(batch, path)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_rebuild_rebands_bit_identical_to_fresh_build(spark, tmp_path):
    """Re-banding from the stored shingle hashes must be EXACT: after
    rebuild_lsh_index to new (num_perm, bands), the band table and all
    query answers equal a fresh build of the same documents at those
    parameters — shash holds the very xxhash64 values the signature
    min-fold consumes, so no text is needed."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        query_lsh_index,
        read_lsh_meta,
        rebuild_lsh_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    old = str(tmp_path / "old")
    fresh = str(tmp_path / "fresh")
    build_lsh_index(docs, old, num_perm=32, bands=8, seed=7)
    meta = rebuild_lsh_index(spark, old, num_perm=64, bands=16)
    assert (meta["num_perm"], meta["bands"]) == (64, 16)
    assert read_lsh_meta(old) == meta

    build_lsh_index(docs, fresh, num_perm=64, bands=16, seed=7)
    read_bands = lambda p: sorted(
        (r.doc_id, r.band_idx, r.band_key)
        for r in spark.read.parquet(p + "/bands").collect()
    )
    assert read_bands(old) == read_bands(fresh)

    q = lambda p: sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in query_lsh_index(spark, batch, p, threshold=0.5).collect()
    )
    assert q(old) == q(fresh) and {(a, b) for a, b, _ in q(old)} == {(10, 1)}


def test_lsh_rebuild_meta_matches_fresh_build(spark, tmp_path):
    """A rebuild publishes through ``indexio.write_versions``: after an
    append and its replay, the rebuilt meta equals a fresh build's at
    the same parameters (but for the shash version it names), its
    ``rows`` are the rebuilt tables' footer counts, and the index reads
    as dup-free."""
    from lakehouse_dba_tools_spark.dedup.index import (
        LSH_TABLES,
        append_to_lsh_index,
        build_lsh_index,
        rebuild_lsh_index,
    )
    from lakehouse_dba_tools_spark.maintenance.history import footer_row_count
    from lakehouse_dba_tools_spark.operators.indexio import is_dup_free, open_snapshot

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame(_NEAR_DUP_CORPUS, schema)
    batch = spark.createDataFrame(_NEAR_DUP_BATCH, schema)
    old, fresh = str(tmp_path / "old"), str(tmp_path / "fresh")
    build_lsh_index(corpus, old, num_perm=32, bands=8, seed=7)
    append_to_lsh_index(batch, old)
    append_to_lsh_index(batch, old)  # replayed epoch
    meta = rebuild_lsh_index(spark, old, num_perm=64, bands=16)
    want = build_lsh_index(
        corpus.unionByName(batch), fresh, num_perm=64, bands=16, seed=7
    )
    assert {**meta, "shash_dir": None} == {**want, "shash_dir": None}
    snap = open_snapshot(old, LSH_TABLES)
    assert snap.meta == meta
    footers = {t: footer_row_count(d) for t, d in snap.dirs.items()}
    assert meta["rows"] == footers == {"bands": 16 * 6, "shash": 6}
    assert is_dup_free(snap)


def test_concurrent_appends_serialize_and_both_land(spark, tmp_path):
    """Two threads appending different batches to the same index
    concurrently: the writer flock serializes them and the final index
    contains BOTH (no lost append — the round-7 ADVICE race), proven
    by a query matching docs from each batch."""
    import threading

    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        query_lsh_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, f"{base} today")], "doc_id int, text string"
    )
    b1 = spark.createDataFrame([(10, f"{base} tonight")], "doc_id int, text string")
    b2 = spark.createDataFrame([(20, f"{base} tomorrow")], "doc_id int, text string")
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)

    errs = []

    def do_append(df):
        try:
            append_to_lsh_index(df, path)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=do_append, args=(df,)) for df in (b1, b2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs

    probe = spark.createDataFrame(
        [(30, f"{base} yesterday")], "doc_id int, text string"
    )
    got = {
        (r.id_a, r.id_b)
        for r in query_lsh_index(spark, probe, path, threshold=0.5).collect()
    }
    # the probe near-matches the seed doc AND both concurrently
    # appended docs — neither append was lost
    assert got == {(30, 1), (30, 10), (30, 20)}


def test_ingest_batch_replay_reproduces_cross_batch_only_pairs(spark, tmp_path):
    """Replay idempotence for batches containing INTERNAL near-dups
    (round-8 ADVICE): on a redelivered epoch the batch's own rows are
    already in the index, so without the id_b exclusion the query
    would emit within-batch pairs the original epoch never produced.
    ingest_batch must return the identical cross-batch-only result on
    first delivery and on replay."""
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index, ingest_batch

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id int, text string",
    )
    # 10 and 11 are near-dups of EACH OTHER (same batch) and of doc 1
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (11, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (12, "unrelated content entirely about parquet row groups and footers"),
        ],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)

    first = {
        (r.id_a, r.id_b)
        for r in ingest_batch(spark, batch, path, threshold=0.5).collect()
    }
    # cross-batch only: batch docs vs the standing corpus, never 10<->11
    assert first == {(10, 1), (11, 1)}

    replay = {
        (r.id_a, r.id_b)
        for r in ingest_batch(spark, batch, path, threshold=0.5).collect()
    }
    assert replay == first


def test_ingest_batch_supports_string_doc_ids(spark, tmp_path):
    """The index API accepts an arbitrary id_col; ingest_batch's result
    schema is captured from the pairs plan (round-8 ADVICE: a literal
    'id_a long' DDL made string ids fail at createDataFrame)."""
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index, ingest_batch

    corpus = spark.createDataFrame(
        [
            ("a1", "the quick brown fox jumps over the lazy dog again and again today"),
            ("b2", "completely different text about spark query engines and shuffles"),
        ],
        "doc_id string, text string",
    )
    batch = spark.createDataFrame(
        [("c3", "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id string, text string",
    )
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)
    got = ingest_batch(spark, batch, path, threshold=0.5)
    assert dict(got.dtypes)["id_a"] == "string"
    assert {(r.id_a, r.id_b) for r in got.collect()} == {("c3", "a1")}


def test_lsh_query_planned_before_rebuild_completes_on_its_snapshot(spark, tmp_path):
    """The LSH half of the rebuild-race contract (round-8 ADVICE): the
    permutation-family params ride the bands version directory, so a
    query PLANNED before a re-banding rebuild evaluates on its own
    coupled (params, bands) snapshot — same pairs — while a query
    planned after uses the new family and agrees."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        query_lsh_index,
        read_lsh_meta,
        rebuild_lsh_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)
    planned = query_lsh_index(spark, batch, path, threshold=0.5)  # binds v0+meta
    rebuild_lsh_index(spark, path, num_perm=64, bands=16)
    assert read_lsh_meta(path)["bands"] == 16
    want = {(10, 1)}
    assert {(r.id_a, r.id_b) for r in planned.collect()} == want
    assert {
        (r.id_a, r.id_b)
        for r in query_lsh_index(spark, batch, path, threshold=0.5).collect()
    } == want


def test_lsh_bands_meta_names_its_shash_version(spark, tmp_path):
    """Single-flip cross-table atomicity (round 10): the bands version
    meta NAMES the shash version it pairs with, and queries read THAT
    version — moving the live shash pointer to a different table (the
    state a crashed or racing full rebuild would expose) must not
    change a query's answer."""
    import os

    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        query_lsh_index,
        read_lsh_meta,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again tonight")],
        "doc_id int, text string",
    )
    path = str(tmp_path / "idx")
    meta = build_lsh_index(corpus, path, num_perm=32, bands=8, seed=7)
    assert meta["shash_dir"] == "shash.v0"
    want = {
        (r.id_a, r.id_b)
        for r in query_lsh_index(spark, batch, path, threshold=0.5).collect()
    }
    assert want == {(10, 1)}

    # simulate the torn state: a foreign shash version (EMPTY table —
    # would silently verify nothing) published under the live pointer
    # while bands still carry the old snapshot's meta
    foreign = os.path.join(path, "shash.v9")
    os.makedirs(foreign)
    src = os.path.join(path, meta["shash_dir"])
    # an empty-but-valid parquet table: same schema, zero rows
    spark.read.parquet(src).limit(0).write.parquet(foreign, mode="overwrite")
    live = os.path.join(path, "shash")
    os.remove(live)
    os.symlink("shash.v9", live)
    spark.catalog.refreshByPath(live)

    assert read_lsh_meta(path)["shash_dir"] == "shash.v0"
    got = {
        (r.id_a, r.id_b)
        for r in query_lsh_index(spark, batch, path, threshold=0.5).collect()
    }
    assert got == want  # the meta-named version answered, not the pointer


_NEAR_DUP_CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (3, "completely different text about spark query engines and shuffles"),
    (5, "parquet footers record row counts so readers can skip a scan"),
]
_NEAR_DUP_BATCH = [
    (10, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (11, "parquet footers record row counts so readers can skip the scan"),
    (12, "unrelated content entirely about row groups and dictionary pages"),
]


def test_compact_lsh_index_with_custom_id_col(spark, tmp_path):
    """Compaction keys its dedup on the index's own id column, so an
    index built with ``id_col="id"`` compacts and keeps answering."""
    from lakehouse_dba_tools_spark.dedup.index import (
        append_to_lsh_index,
        build_lsh_index,
        compact_lsh_index,
        query_lsh_index,
    )

    schema = "id int, body string"
    corpus = spark.createDataFrame(_NEAR_DUP_CORPUS, schema)
    batch = spark.createDataFrame(_NEAR_DUP_BATCH[:1], schema)
    path = str(tmp_path / "idx")
    build_lsh_index(corpus, path, text_col="body", id_col="id", num_perm=32, bands=8, seed=7)
    append_to_lsh_index(batch, path)
    append_to_lsh_index(batch, path)  # replayed epoch
    stats = compact_lsh_index(spark, path)
    assert stats["shash"]["rows"] == 4
    assert stats["bands"]["rows"] == 8 * 4
    probe = spark.createDataFrame([(20, _NEAR_DUP_BATCH[0][1])], schema)
    got = {(r.id_a, r.id_b) for r in query_lsh_index(spark, probe, path).collect()}
    assert got == {(20, 1), (20, 10)}


@pytest.mark.parametrize("inline_max", [None, 0], ids=["in_set", "semi_join"])
def test_lsh_query_drops_pairs_only_through_oversized_buckets(
    spark, tmp_path, monkeypatch, inline_max
):
    """The boilerplate guard: an index bucket holding more than
    ``max_bucket_size`` rows yields no candidate. With one-word shingles
    and one permutation per band, a doc's band-j key is set by its word
    with the smallest j-th permutation value, so the docs are built to
    collide where wanted: every doc holds ``w0``, the vocabulary's
    smallest word under permutation 0, and so shares one band-0 bucket
    with the rest. ``q1`` copies ``d1`` and also collides with it in
    bands 1-3; ``q2`` adds to ``d2`` a word ``y`` that is smaller than
    ``d2``'s words under permutations 1-3, so the two meet in band 0
    only. Capping that bucket drops (q2, d2) and keeps (q1, d1). It holds
    with the touched buckets kept by literal IN-sets (the default at
    this batch size) and by the broadcast semi-join that larger batches
    take (``BUCKETS_INLINE_MAX`` forced to 0)."""
    import random

    from lakehouse_dba_tools_spark.dedup import index
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index, query_lsh_index

    if inline_max is not None:
        monkeypatch.setattr(index, "BUCKETS_INLINE_MAX", inline_max)

    params = {"k": 1, "num_perm": 4, "bands": 4, "seed": 7}
    rng = random.Random(3)
    vocab = sorted({
        "".join(rng.choices("abcdefghijklmnopqrstuvwxyz", k=8)) for _ in range(3000)
    })
    # a one-word doc's signature is that word's value under each permutation
    words = spark.createDataFrame([(i, w) for i, w in enumerate(vocab)], "doc_id long, text string")
    h = {
        vocab[r.doc_id]: list(r.signature)
        for r in with_minhash_signature(
            with_shingle_set(words, k=1), num_perm=4, seed=7
        ).collect()
    }
    w0 = min(vocab, key=lambda w: h[w][0])
    rest = [w for w in vocab if w != w0]
    rng.shuffle(rest)

    pool = rest[24:]

    def smaller(doc):
        """A word of ``pool`` smaller than every word of ``doc`` under
        permutations 1-3, taken out of ``pool``."""
        word = next(
            w for w in pool
            if all(h[w][j] < min(h[d][j] for d in doc) for j in (1, 2, 3))
        )
        pool.remove(word)
        return word

    # d1 keeps its own keys in bands 1-3, apart from every other doc's
    d1 = [w0, smaller([w0])] + rest[:4]
    d2 = [w0] + rest[4:9]
    y = smaller(d2)
    boiler = [[w0] + rest[9 + 5 * i:14 + 5 * i] for i in range(3)]

    schema = "doc_id long, text string"
    corpus = [(1, " ".join(d1)), (2, " ".join(d2))] + [
        (10 + i, " ".join(b)) for i, b in enumerate(boiler)
    ]
    path = str(tmp_path / "idx")
    build_lsh_index(spark.createDataFrame(corpus, schema), path, **params)
    batch = spark.createDataFrame([(100, " ".join(d1)), (101, " ".join(d2 + [y]))], schema)

    def pairs(cap):
        return {
            (r.id_a, r.id_b)
            for r in query_lsh_index(spark, batch, path, max_bucket_size=cap).collect()
        }

    # the band-0 bucket holds d1, d2 and three boilerplate docs
    assert pairs(5) == {(100, 1), (101, 2)}
    assert pairs(4) == {(100, 1)}


def test_lsh_query_jobs_rely_on_recorded_schemas(spark, tmp_path):
    """A query signs its batch with one action and queries the index in
    three bounded ones. The version meta records each table's schema,
    so no read starts a schema-inference job: the query, its collect
    included, starts at most 8 jobs."""
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index, query_lsh_index

    schema = "doc_id long, text string"
    path = str(tmp_path / "idx")
    build_lsh_index(spark.createDataFrame(_NEAR_DUP_CORPUS, schema), path)
    batch = spark.createDataFrame(_NEAR_DUP_BATCH, schema)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    got = {(r.id_a, r.id_b) for r in query_lsh_index(spark, batch, path).collect()}
    assert got == {(10, 1), (11, 5)}
    assert dag.numTotalJobs() - before <= 8


@pytest.mark.parametrize("case", ["flat_live_dir", "meta_without_schemas", "version_without_meta"])
def test_index_outside_the_one_format_is_rejected(spark, tmp_path, case):
    """An index is read only in the one on-disk format: every live path
    a pointer to a version dir whose meta records ``schemas``. A plain
    live directory fails the next locked writer, naming the path; a
    meta without ``schemas`` fails the query, naming the key and the
    table; a version dir without its meta fails, naming the meta file."""
    import json
    import os
    import re

    from lakehouse_dba_tools_spark.dedup.index import (
        META_NAME,
        build_lsh_index,
        compact_lsh_index,
        query_lsh_index,
    )
    from lakehouse_dba_tools_spark.operators.indexio import current_version_dir

    schema = "doc_id long, text string"
    path = str(tmp_path / "idx")
    build_lsh_index(spark.createDataFrame(_NEAR_DUP_CORPUS, schema), path)
    batch = spark.createDataFrame(_NEAR_DUP_BATCH, schema)
    bands = os.path.join(path, "bands")
    meta_file = os.path.join(current_version_dir(bands), META_NAME)
    if case == "flat_live_dir":
        # a table from before versioned tables: a plain directory
        vd = current_version_dir(bands)
        os.remove(bands)
        os.rename(vd, bands)
        with pytest.raises(ValueError, match=re.escape(repr(bands)) + ".*Rebuild"):
            compact_lsh_index(spark, path)
        return
    if case == "meta_without_schemas":
        with open(meta_file) as fh:
            meta = json.load(fh)
        del meta["schemas"]
        with open(meta_file, "w") as fh:
            json.dump(meta, fh)
        err, match = ValueError, "'schemas'.*'bands'"
    else:
        os.remove(meta_file)
        err, match = FileNotFoundError, re.escape(meta_file)
    with pytest.raises(err, match=match):
        query_lsh_index(spark, batch, path)


@pytest.mark.parametrize("caches", [None, []], ids=["no_caches", "caches"])
def test_lsh_query_evaluates_batch_once(spark, tmp_path, caches):
    """``query_lsh_index`` signs its batch with one action into local
    relations, so each batch row runs the caller's lineage once, with
    or without ``caches`` (nothing is appended to it), and the returned
    pairs frame is a local Arrow-backed relation."""
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index, query_lsh_index

    schema = "doc_id long, text string"
    path = str(tmp_path / "idx")
    build_lsh_index(spark.createDataFrame(_NEAR_DUP_CORPUS, schema), path)
    evaluated = spark.sparkContext.accumulator(0)

    def keep(doc_id):
        evaluated.add(1)
        return True

    batch = spark.createDataFrame(_NEAR_DUP_BATCH, schema).filter(
        F.udf(keep, "boolean")("doc_id")
    )
    pairs = query_lsh_index(spark, batch, path, caches=caches)
    assert evaluated.value == len(_NEAR_DUP_BATCH)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(10, 1), (11, 5)}
    assert evaluated.value == len(_NEAR_DUP_BATCH)
    assert caches in (None, [])
    assert "LocalRelation" in pairs._jdf.queryExecution().optimizedPlan().toString()


def test_ingest_batch_evaluates_docs_once(spark, tmp_path):
    """``ingest_batch`` signs its batch with one action into local
    relations that the query, the own-id exclusion and the append all
    read, so each batch row runs the caller's lineage once; the
    returned pairs frame is a local Arrow-backed relation."""
    from lakehouse_dba_tools_spark.dedup.index import build_lsh_index, ingest_batch

    schema = "doc_id long, text string"
    path = str(tmp_path / "idx")
    build_lsh_index(spark.createDataFrame(_NEAR_DUP_CORPUS, schema), path)
    evaluated = spark.sparkContext.accumulator(0)

    def keep(doc_id):
        evaluated.add(1)
        return True

    batch = spark.createDataFrame(_NEAR_DUP_BATCH, schema).filter(
        F.udf(keep, "boolean")("doc_id")
    )
    pairs = ingest_batch(spark, batch, path)
    assert evaluated.value == len(_NEAR_DUP_BATCH)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(10, 1), (11, 5)}
    assert evaluated.value == len(_NEAR_DUP_BATCH)
    assert "LocalRelation" in pairs._jdf.queryExecution().optimizedPlan().toString()


def test_batch_signed_on_driver_matches_index_rows(spark):
    """A batch signed on the driver (the query and ingest form) has the
    band and shash rows the build writes for the same docs: both fold
    signatures with ``minhash.min_fold`` and band them with
    ``band_key_array``. An empty doc is included."""
    from lakehouse_dba_tools_spark.dedup.index import _index_rows, _sign_batch

    docs = spark.createDataFrame(
        _NEAR_DUP_CORPUS + _NEAR_DUP_BATCH + [(99, "")], "doc_id long, text string"
    )
    bk, sh, pinned = _index_rows(docs, "text", "doc_id", 3, 64, 16, 42)
    try:
        want_bands = sorted(tuple(r) for r in bk.collect())
        want_shash = sorted((r.doc_id, tuple(r.shash)) for r in sh.collect())
    finally:
        pinned.unpersist()
    batch = _sign_batch(docs, {"id_col": "doc_id", "text_col": "text", "k": 3,
                               "num_perm": 64, "bands": 16, "seed": 42})
    assert sorted(
        zip(*(batch.bands[c].to_pylist() for c in ("doc_id", "band_idx", "band_key")))
    ) == want_bands
    assert sorted(
        (i, tuple(h)) for i, h in zip(*(batch.shash[c].to_pylist() for c in ("doc_id", "shash")))
    ) == want_shash


def test_describe_index_counts_rows_from_footers(spark, tmp_path):
    """describe_index reads each table's row count from its parquet
    footers: it starts no Spark job and agrees with a count() of the
    published version, for a partitioned table and a flat one, after
    an append added files to both."""
    from lakehouse_dba_tools_spark.dedup.index import append_to_lsh_index, build_lsh_index
    from lakehouse_dba_tools_spark.operators.indexio import (
        current_version_dir,
        describe_index,
    )

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over lazy dog {i % 3}") for i in range(12)],
        schema,
    )
    more = spark.createDataFrame([(100, "a wholly new document text here")], schema)
    path = str(tmp_path / "lsh")
    build_lsh_index(docs, path)
    append_to_lsh_index(more, path)
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().numTotalJobs()
    got = describe_index(path, ("bands", "shash"))
    assert sc.dagScheduler().numTotalJobs() == before
    for d in got:
        live = f"{path}/{d['table']}"
        assert d["n_rows"] == spark.read.parquet(current_version_dir(live)).count() > 0

"""BM25 lexical retrieval: formula fidelity + scale plan shape."""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.similarity.bm25 import (
    _tokens,
    bm25_topk,
    bm25_topk_from_index,
    build_inverted_index,
)
from lakehouse_dba_tools_spark.sources.tables import load_table


def bm25_corpus_stats(df: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(N, avgdl) for `bm25_topk_from_index` — one tiny aggregate."""
    row = df.select(F.size(_tokens(text_col)).alias("dl")).agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"])


def bm25_score_scalar(
    n: int, df_t: int, tf: int, dl: int, avgdl: float, k1: float = 1.2, b: float = 0.75
) -> float:
    """Pure-python transcription of one term's score — the tests cross
    check the distributed columns against this literal formula."""
    idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def _toy_docs(spark):
    rows = [
        (0, "spark shuffle join broadcast join"),
        (1, "window merge upsert table"),
        (2, "join join join spark"),
        (3, "totally unrelated words here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_single_term_score_matches_scalar_formula(spark):
    docs = _toy_docs(spark)
    out = {r["doc_id"]: r["bm25_score"] for r in bm25_topk(docs, "join", k=10).collect()}
    dls = {r["doc_id"]: r["dl"] for r in docs.select(
        "doc_id", F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)).alias("dl")
    ).collect()}
    avgdl = sum(dls.values()) / len(dls)
    tf = {0: 2, 1: 0, 2: 3, 3: 0}
    n, df_t = 4, 2
    for doc, expect_tf in tf.items():
        if expect_tf == 0:
            assert doc not in out  # score>0 filter drops non-matches
        else:
            expected = bm25_score_scalar(n, df_t, expect_tf, dls[doc], avgdl)
            assert math.isclose(out[doc], round(expected, 4), abs_tol=1e-4)


def test_index_path_agrees_with_direct_scoring(spark):
    docs = _toy_docs(spark)
    direct = bm25_topk(docs, "spark join merge", k=10).collect()
    idx = build_inverted_index(docs)
    via_index = bm25_topk_from_index(
        idx, bm25_corpus_stats(docs), "spark join merge", k=10
    ).collect()
    assert [(r["doc_id"], r["bm25_score"]) for r in direct] == [
        (r["doc_id"], r["bm25_score"]) for r in via_index
    ]


def test_topk_plan_never_shuffles_corpus(spark, sf_dir):
    """Scale pin: the only exchanges are the 1-row stats reduction and
    its broadcast; top-k is TakeOrderedAndProject (per-partition heaps),
    not a global Sort."""
    docs = load_table(spark, sf_dir, "documents")
    df = bm25_topk(docs, "spark merge window join", k=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 2  # SinglePartition stats + broadcast
    assert "SortMergeJoin" not in plan


def test_inverted_index_shuffles_postings_not_bodies(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = build_inverted_index(docs)._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"Exchange [^\n]*\n", plan):
        assert "text" not in m.group(0)


def test_postings_index_lifecycle(spark, tmp_path):
    """Persisted postings index: build + append answers equal the
    direct full-corpus scorer (stats recomputed from doclens, so the
    append shifts N/avgdl/df correctly), and the query-term filter
    pushes into the postings scan."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        append_to_postings_index,
        build_postings_index,
        query_postings_index,
    )

    docs = _toy_docs(spark)
    path = str(tmp_path / "bm25")
    build_postings_index(docs.filter("doc_id != 2"), path)
    append_to_postings_index(docs.filter("doc_id = 2"), path)

    got = query_postings_index(spark, path, "spark join", k=4)
    want = bm25_topk(docs, "spark join", k=4)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    # the appended doc (tf-heavy for 'join') must rank first — proves
    # the append is visible AND included in the df/N/avgdl stats
    assert got.collect()[0].doc_id == 2

    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert re.search(r"PushedFilters: \[.*In\(term", plan)


def test_postings_index_replay_and_compaction(spark, tmp_path):
    """A replayed append (at-least-once foreachBatch epoch) writes
    duplicate posting and doclens rows; queries must NOT double-count
    tf/df or inflate N/avgdl, and compaction folds the duplicates and
    bin-packs without changing any answer."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        append_to_postings_index,
        build_postings_index,
        compact_postings_index,
        query_postings_index,
    )

    docs = _toy_docs(spark)
    path = str(tmp_path / "bm25")
    build_postings_index(docs.filter("doc_id != 2"), path)
    append_to_postings_index(docs.filter("doc_id = 2"), path)
    append_to_postings_index(docs.filter("doc_id = 2"), path)  # replay

    want = [tuple(r) for r in bm25_topk(docs, "spark join", k=4).collect()]
    before = [
        tuple(r) for r in query_postings_index(spark, path, "spark join", k=4).collect()
    ]
    assert before == want  # replayed rows did not skew any score

    stats = compact_postings_index(spark, path)
    after = [
        tuple(r) for r in query_postings_index(spark, path, "spark join", k=4).collect()
    ]
    assert after == want
    # the replayed doclens rows are gone: one row per doc
    assert stats["doclens"]["rows"] == docs.count()
    assert stats["doclens"]["files_after"] == 1
    assert stats["postings"]["files_after"] <= stats["postings"]["files_before"]
    # postings folded to one row per (term, doc_id)
    from lakehouse_dba_tools_spark.similarity.bm25 import build_inverted_index

    assert stats["postings"]["rows"] == build_inverted_index(docs).count()


def test_champions_full_tier_equals_exact(spark, sf_dir, tmp_path):
    """With champion_n covering every term's df, the champions tier IS
    the postings table — mode='champions' must reproduce mode='exact'
    bit-for-bit (same stats snapshot: fresh build, no appends)."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        build_postings_index,
        query_postings_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, champion_n=docs.count())
    exact = [
        tuple(r)
        for r in query_postings_index(
            spark, path, "spark merge window join", k=20
        ).collect()
    ]
    champ = [
        tuple(r)
        for r in query_postings_index(
            spark, path, "spark merge window join", k=20, mode="champions"
        ).collect()
    ]
    assert champ == exact


def test_champions_single_term_topk_exact_at_small_n(spark, sf_dir, tmp_path):
    """Single-term guarantee: idf is constant within a term, so impact
    order = score order — top-k from a champion_n=8 tier equals the
    exact top-k for any k ≤ 8, even when the term's df is much larger."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        build_postings_index,
        query_postings_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, champion_n=8)
    for term in ("the", "spark", "data"):
        exact = [
            tuple(r)
            for r in query_postings_index(spark, path, term, k=5).collect()
        ]
        champ = [
            tuple(r)
            for r in query_postings_index(
                spark, path, term, k=5, mode="champions"
            ).collect()
        ]
        assert champ == exact, term


def test_champions_staleness_contract_and_compact_refresh(spark, tmp_path):
    """Appends are visible to exact mode immediately; champions mode
    reflects the last build/compact (documented tier staleness), and a
    compact folds the append into the tier."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        append_to_postings_index,
        build_postings_index,
        compact_postings_index,
        query_postings_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "query engines join tables"),
        ],
        "doc_id int, text string",
    )
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, champion_n=100)
    newdoc = spark.createDataFrame(
        [(3, "glacierworm spark appears here")], "doc_id int, text string"
    )
    append_to_postings_index(newdoc, path)
    # exact mode sees the appended doc at once
    assert {r.doc_id for r in query_postings_index(spark, path, "glacierworm").collect()} == {3}
    # champions mode still answers from the pre-append tier
    assert query_postings_index(spark, path, "glacierworm", mode="champions").count() == 0
    compact_postings_index(spark, path)
    got = query_postings_index(spark, path, "glacierworm", mode="champions")
    assert {r.doc_id for r in got.collect()} == {3}
    # and post-compact the two modes agree on a shared-stats query
    ex = [tuple(r) for r in query_postings_index(spark, path, "spark", k=3).collect()]
    ch = [
        tuple(r)
        for r in query_postings_index(spark, path, "spark", k=3, mode="champions").collect()
    ]
    assert ch == ex


def test_postings_meta_names_its_doclens_version(spark, tmp_path):
    """Single-flip cross-table atomicity (round 10): the postings
    version meta NAMES the doclens version it pairs with, and exact
    queries read THAT version — moving the live doclens pointer to a
    foreign table (the state a crashed or racing full rebuild would
    expose) must not change a query's stats or scores."""
    import os

    from lakehouse_dba_tools_spark.operators.indexio import open_snapshot
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        BM25_TABLES,
        build_postings_index,
        query_postings_index,
    )

    docs = spark.createDataFrame(
        [(i, f"spark shuffles data w{i}") for i in range(12)],
        "doc_id int, text string",
    )
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path)
    p_dir, d_dir = open_snapshot(path, BM25_TABLES).dirs.values()
    assert os.path.basename(d_dir) == "doclens.v0"
    want = [tuple(r) for r in query_postings_index(spark, path, "spark w3", k=5).collect()]

    # foreign doclens version under the live pointer: EMPTY table —
    # would zero out N/avgdl and silently wreck every score
    foreign = os.path.join(path, "doclens.v9")
    spark.read.parquet(d_dir).limit(0).write.parquet(foreign, mode="overwrite")
    live = os.path.join(path, "doclens")
    os.remove(live)
    os.symlink("doclens.v9", live)
    spark.catalog.refreshByPath(live)

    assert open_snapshot(path, BM25_TABLES).dirs["doclens"].endswith("doclens.v0")
    got = [tuple(r) for r in query_postings_index(spark, path, "spark w3", k=5).collect()]
    assert got == want  # the meta-named version answered, not the pointer


def test_tied_docs_break_by_id_in_every_mode(spark, tmp_path):
    """Two docs with IDENTICAL (tf, dl) per query term have exactly
    equal true scores; the deterministic term-ordered score fold
    (similarity/bm25.py _sum_scores_deterministic) makes their floats
    bit-equal under any partitioning, so the (score, id) tie-break
    always picks the smaller id — in exact, champions, and wand modes
    alike (a plain groupBy-sum could flip them a last-ulp apart)."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        build_postings_index,
        query_postings_index,
    )

    docs = spark.createDataFrame(
        [
            (2, "gamma alpha gamma delta beta filler2"),
            (6, "alpha gamma delta gamma beta filler6"),
            (9, "gamma filler9"),
            (11, "delta filler11"),
        ],
        "doc_id int, text string",
    )
    path = str(tmp_path / "bm25")
    build_postings_index(docs, path, champion_n=10, wand_buckets=3)
    for mode in ("exact", "champions", "wand"):
        rows = query_postings_index(
            spark, path, "gamma delta alpha", k=1, mode=mode
        ).collect()
        assert [r["doc_id"] for r in rows] == [2], mode

"""BM25 keyword search + inverted index over a document corpus.

The lexical-retrieval counterpart of the embedding ANN paths in
`similarity/search.py`: together they cover the two retrieval modes a
training-data pipeline needs (keyword mining / contamination probes and
semantic near-dup search). Pure `pyspark.sql.functions` column algebra —
no UDFs anywhere, the whole scorer stays inside whole-stage codegen.

Scale shapes (100 TB corpus, 1000 executors):

- ``bm25_topk`` (query-time scoring, a handful of query terms): the
  corpus is scanned but NEVER shuffled. Per-doc term frequencies come
  from ``F.filter`` over the token array inside one projection; the
  global stats the formula needs (N, avgdl, per-term df) reduce to ONE
  1-row aggregate, which is broadcast back via crossJoin. The only
  exchange in the plan is the single-row stats broadcast plus the
  TakeOrderedAndProject for top-k — per-partition heaps of k rows, not
  a global sort.
- ``build_inverted_index`` (batch retrieval over many queries): explode
  to postings and hash-aggregate on (term, doc_id) — one shuffle whose
  payload is (term, doc_id, tf), never document bodies. Downstream
  lookups broadcast the query-term list and filter BEFORE the exchange,
  so only matching postings move.
"""

from __future__ import annotations

import math
import os
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.indexio import (
    IndexTables,
    Layout,
    Snapshot,
    append_tables,
    compact_tables,
    current_version_dir,
    filter_ledgered,
    forget_rows,
    heal,
    heal_tables,
    init_versioned,
    is_dup_free,
    open_snapshot,
    overlap_jobs,
    pinned_for_write,
    pinned_forget_ids,
    publish,
    read_forget_ledger,
    read_table,
    reader_schema,
    refresh_listings,
    snapshot_meta,
    vacuum_versions,
    write_table,
    write_version_meta,
    write_versions,
    writer_lock,
)

TOKEN_RE = "[a-z0-9]+"


def _tokens(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def build_inverted_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Postings table: (term, doc_id, tf, dl).

    dl (doc length in tokens) rides along so a scorer joining the
    postings needs no second corpus scan. Payload per posting is ~24
    bytes + term; document text never crosses the exchange.
    """
    toks = df.select(
        F.col(id_col), _tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("term"),
    )
    return toks.groupBy("term", id_col).agg(
        F.count("*").alias("tf"), F.first("dl").alias("dl")
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """Per-term document frequency + collection tf from a postings table."""
    return postings.groupBy("term").agg(
        F.count("*").alias("n_docs"), F.sum("tf").alias("total_tf")
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 20,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k docs for ``query`` by BM25 (Robertson/Sparck Jones idf).

    score(D, Q) = Σ_t ln(1 + (N - df_t + .5)/(df_t + .5))
                      · tf_tD (k1+1) / (tf_tD + k1 (1 - b + b·dl/avgdl))

    Two corpus scans, zero corpus shuffles: scan 1 reduces the per-term
    tf indicator columns to the 1-row stats frame (N, avgdl, df_t); the
    broadcast crossJoin stamps those constants onto scan 2's per-doc tf
    projection. Deterministic result: ordered by raw score then id, so
    the k-boundary tie-break is stable across partitionings (per-row
    score is a fixed-shape expression — no cross-row float reordering).

    Returns (id_col, bm25_score) with the score rounded to 4 for
    hash-comparable output.
    """
    terms = sorted(set(t for t in _py_tokens(query) if t))
    if not terms:
        raise ValueError("query produced no tokens")

    feat = df.select(F.col(id_col), _tokens(text_col).alias("_toks")).select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        *[
            F.size(F.filter("_toks", _eq(t))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = feat.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = feat.crossJoin(F.broadcast(stats))
    score: Column = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / norm
    return (
        scored.select(F.col(id_col), score.alias("_score"))
        .filter(F.col("_score") > 0)
        .orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_score", 4).alias("bm25_score"))
    )


def _eq(term: str):
    # F.filter inspects lambda arity (2 params → it passes the element
    # INDEX as the 2nd arg), so term capture must be a real closure,
    # never a `lambda x, t=t:` default.
    return lambda x: x == F.lit(term)


def _py_tokens(s: str) -> list[str]:
    import re

    return re.findall(TOKEN_RE, s.lower())


def _sum_scores_deterministic(per_term: DataFrame, id_col: str) -> DataFrame:
    """Per-doc score = fold of per-term partials in SORTED-TERM order —
    bit-deterministic under any partitioning. A plain groupBy-sum adds
    a doc's partials in shuffle-arrival order, so two docs with
    IDENTICAL (tf, dl) per query term — exactly tied true scores — can
    come out a last-ulp apart and flip the (score, id) tie-break
    between runs and between the exact/wand/champions paths (found by
    the wand exactness property test). The fold matches the fixed
    ``+``-chain shape the single-projection scorer (`bm25_topk`) and
    the DuckDB oracles evaluate: identical inputs → identical float →
    the id tie-break decides, everywhere. Input: (id_col, term, _s);
    output: (id_col, _score). Per-doc state is ≤ |query terms| structs."""
    return (
        per_term.groupBy(id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "_s"))),
                F.lit(0.0),
                lambda acc, x: acc + x["_s"],
            ).alias("_score")
        )
    )


def bm25_topk_from_index(
    postings: DataFrame,
    corpus_stats: tuple[int, float],
    query: str,
    k: int = 20,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score from a prebuilt postings table (batch-retrieval path).

    ``corpus_stats`` = (N, avgdl) computed once when the index was
    built. The query-term filter applies BEFORE any exchange, so only
    postings of the query's terms participate; df_t comes from a 1-row
    aggregate over that filtered slice, broadcast back. Use when many
    queries amortize one index build; `bm25_topk` when scoring ad hoc.
    """
    n_docs, avgdl = corpus_stats
    terms = sorted(set(_py_tokens(query)))
    if not terms:
        raise ValueError("query produced no tokens")
    hits = postings.filter(F.col("term").isin(terms))
    df_t = hits.groupBy("term").agg(F.count("*").alias("df"))
    scored = hits.join(F.broadcast(df_t), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    per_term = scored.select(
        F.col(id_col), "term", (idf * tf * F.lit(k1 + 1.0) / norm).alias("_s")
    )
    return (
        _sum_scores_deterministic(per_term, id_col)
        .orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_score", 4).alias("bm25_score"))
    )


# --- persisted postings index (continuous-ingestion lexical retrieval) ---
#
# The third leg of the stored-index family (dedup/index.py LSH,
# similarity/index.py IVF): postings are computed once and stored;
# ingest batches append their own postings; queries read only the
# slice matching their terms. Layout under ``path``:
#
# - postings/  (term, doc_id, tf, dl), range-partitioned and sorted by
#   term — parquet row-group min/max on the sort key become a skip
#   index, so a query-term IN-filter reads only matching row groups
#   (the plain-parquet analog of partitioning by term, without a
#   directory per term).
# - doclens/   (doc_id, dl) — corpus stats (N, avgdl) are recomputed
#   from this tiny table at query time, so APPENDS KEEP BM25 HONEST:
#   stored global stats would go stale with every batch.
# - champions/ (term, doc_id, tf, dl) — the IMPACT-ORDERED tier
#   (Persin-style champion lists): per term, only the top
#   ``champion_n`` postings by Okapi partial score. mode="champions"
#   queries read this tier instead of the full postings slice, so a
#   stopword-grade term costs O(champion_n) rather than O(df) — the
#   sublinear path for common-term top-k. Refreshed at build/compact
#   (the tier-merge cadence of production impact-ordered indexes);
#   appends between compacts are visible to exact mode immediately and
#   to champions mode after the next compact — documented staleness,
#   traded for the bounded cost.
# - champions/<ver>/_termstats/ (term, df) — exact per-term document
#   frequency as of the champions refresh (champions-mode idf needs
#   full df; deriving it from the truncated champion slice would be
#   wrong). Rides INSIDE the champions version directory — the
#   underscore prefix hides it from the champions parquet scan — so
#   ONE pointer flip publishes tier + df + stats together and a query
#   racing a compact can never pair a tier with another snapshot's df.
# - blocked/ (bucket, term, doc_id, tf, dl) — the BLOCK-MAX tier
#   (Ding & Suel's Block-Max WAND, re-expressed for a batch engine):
#   the full postings partitioned into ``wand_buckets`` doc_id-hash
#   buckets. A doc's postings for EVERY term land in the same bucket,
#   so a per-bucket score upper bound is computable from per-bucket
#   maxima alone and pruning is whole-bucket. mode="wand" queries seed
#   a top-k threshold from the most-promising buckets, prune every
#   bucket whose bound cannot reach it, and score survivors exactly —
#   EXACT top-k (hash-equal to mode="exact" over the same snapshot) at
#   sublinear cost whenever impact skew exists (Zipf tf); on a
#   flat-impact corpus it degrades to the exact scan, never to a wrong
#   answer. Same refresh cadence as champions (build/compact).
# - blocked/<ver>/_blockmax/ (term, bucket, max_imp, n_docs) — the
#   per-(term, bucket) impact maxima + posting counts the pruning
#   plan reads; df(term) = Σ_bucket n_docs (postings are deduped at
#   refresh). Rides inside the blocked version dir: one flip publishes
#   postings + maxima + stats.
# - postings/<ver>/_bm25_postings_meta.json  {id_col, text_col,
#   doclens_dir, schemas, rows, dup_free} — the index's one meta copy,
#   which every verb reads through ``indexio.open_snapshot``.
#   ``doclens_dir`` names the doclens version the postings version
#   pairs with (the postings pointer flip is the single atomic commit
#   for the pair). ``schemas`` holds both tables' schemas as their
#   readers see them (``StructType.jsonValue()``): the verbs read
#   postings and doclens with them (``indexio.read_table``), so no
#   read starts a schema-inference job. ``rows`` (both tables' footer
#   counts as written) and ``dup_free`` (set by build and compact,
#   inherited by a forget) let a tier refresh skip its dedup shuffle
#   while no append has changed the counts (``indexio.is_dup_free``).
#   An index whose meta lacks these keys is rejected and must be
#   rebuilt (the one on-disk format, see ``operators/indexio.py``).
# - champions/<ver>/_bm25_champ_meta.json  {champion_n, n_docs, avgdl,
#   k1, b, impact_flatness, postings_dir, schemas} — the stats snapshot
#   the tier was ordered under, riding inside the champions version dir
#   (atomic tier+stats publish). impact_flatness = fraction of
#   TRUNCATED terms (df > champion_n) whose champion_n-th impact ties
#   their 1st — the regime gauge: near 1.0 the tier truncates on
#   tie-breaks and multi-term champions answers are untrustworthy (the
#   scorer warns).
# - blocked/<ver>/_bm25_wand_meta.json  {wand_buckets, n_docs, avgdl,
#   k1, b, postings_dir, schemas} — the stats snapshot the block
#   maxima were computed under. In both tier metas ``postings_dir`` is
#   the provenance stamp (``_check_tier_stamp``) and ``schemas`` holds
#   the tier table's and its side table's schemas, which the query
#   paths read with (``indexio.read_table``).
#
# Writer semantics (operators/indexio.py, shared with the LSH and IVF
# indexes): build/append/compact hold an exclusive flock on the index
# root, and each table's live path is a symlink to a versioned
# directory published by one atomic pointer flip — an append can never
# vanish inside a compaction's swap window, and a crash mid-compact
# leaves the live tables readable. Postings and doclens are declared
# once as ``BM25_TABLES`` and written through indexio's shared
# versioned-table layer; the tiers refresh after each publish. Replay
# semantics: a replayed append
# (at-least-once foreachBatch) writes duplicate (term, doc_id) posting
# rows and duplicate (doc_id) doclens rows; queries dedup both at read
# time (the postings dedup runs on the query-terms slice only, the
# doclens dedup on the tiny doc_id/dl table), and
# `compact_postings_index` folds them permanently. The index is
# replay-tolerant, NOT update-tolerant: re-appending a doc_id whose
# text CHANGED is caller error (dedup keeps an arbitrary variant).

POSTINGS_META = "_bm25_postings_meta.json"
CHAMP_META = "_bm25_champ_meta.json"
WAND_META = "_bm25_wand_meta.json"


BM25_TABLES = IndexTables(
    primary="postings",
    meta_name=POSTINGS_META,
    layouts={"postings": Layout(range_by=("term",)), "doclens": Layout()},
    # replays write identical rows: (term, doc_id) / (doc_id)
    dedup_keys=lambda id_col: {"postings": ["term", id_col], "doclens": [id_col]},
    secondary="doclens",
    pair_key="doclens_dir",
)


class _Tier(NamedTuple):
    side: str  # the side table inside the tier's version directory
    meta_name: str
    param: str  # the tier's size parameter
    layout: Layout  # both tables' write layout


_TIERS = {
    "champions": _Tier("_termstats", CHAMP_META, "champion_n", Layout(range_by=("term",))),
    "blocked": _Tier("_blockmax", WAND_META, "wand_buckets", Layout(range_by=("term", "bucket"))),
}


def build_postings_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    champion_n: int | None = None,
    wand_buckets: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> None:
    """Materialize the postings index. Overwrites ``path``. Pass
    ``champion_n`` to also build the impact-ordered champions tier
    (top-N per term, ordered under ``k1``/``b``) and/or
    ``wand_buckets`` to build the block-max tier (doc-hash-bucketed
    postings + per-bucket impact maxima; mode='wand' answers EXACT
    top-k with whole-bucket pruning). Both tiers are opt-in because
    each costs one extra postings shuffle per build/compact; an index
    built without them keeps exactly the pre-tier cost profile, and
    compact refreshes only the tiers that exist."""
    tiers = {}
    if champion_n is not None:
        tiers["champions"] = {"champion_n": champion_n, "k1": k1, "b": b}
    if wand_buckets is not None:
        tiers["blocked"] = {"wand_buckets": wand_buckets, "k1": k1, "b": b}
    with writer_lock(path):
        _write_postings(docs, path, text_col, id_col, fresh=True)
        _refresh_tiers(docs.sparkSession, path, tiers)


def append_to_postings_index(docs: DataFrame, path: str) -> None:
    # The lock keeps this append out of any concurrent compaction's
    # snapshot→publish window (it would otherwise be silently dropped
    # with the superseded version directory).
    with writer_lock(path):
        m = open_snapshot(path, BM25_TABLES).meta
        # replay/backfill-resurrection guard lives in _write_postings
        # (one place for append AND fresh-build paths)
        _write_postings(docs, path, m["text_col"], m["id_col"], fresh=False)
        _heal_stale_tiers(docs.sparkSession, path)


def _heal_stale_tiers(spark, path: str) -> None:
    """Crash repair for the publish→tier-refresh window: if a previous
    writer died between publishing new postings and refreshing the
    champions/block-max tiers, their provenance stamps no longer match
    the current postings version (`_check_tier_stamp` makes readers
    fail loudly on exactly this) — rebuild any such tier from the
    current snapshot with its stored parameters. Caller holds the
    writer lock. Normal appends never trigger this (they write into
    the SAME postings version, so stamps keep matching) — the check is
    two sidecar reads."""
    cur = os.path.basename(current_version_dir(os.path.join(path, "postings")))
    stale = {
        tier: tm
        for tier, tm in _stored_tiers(path).items()
        if tm["postings_dir"] != cur
    }
    _refresh_tiers(spark, path, stale)


def _stored_tiers(path: str) -> dict:
    """{tier: meta} for the opt-in tiers this index has built."""
    out = {}
    for tier in _TIERS:
        try:
            out[tier] = _tier_snapshot(path, tier).meta
        except FileNotFoundError:
            pass
    return out


def _write_postings(
    docs: DataFrame, path: str, text_col: str, id_col: str, fresh: bool
) -> None:
    """Index ``docs`` into a fresh postings/doclens pair (``fresh``) or
    append them to the current one. Caller holds the writer lock."""
    # Replay/backfill-resurrection guard for BOTH paths, under the
    # caller's lock (operators/indexio.py append_forget_ledger): a
    # redelivered epoch must not re-APPEND forgotten docs, and a full
    # re-BUILD fed a corpus snapshot that predates an erasure must not
    # re-index them. One driver-side ledger read filters the batch
    # once, before both tables derive from it; no-op while the path
    # has no forget history.
    spark = docs.sparkSession
    docs = filter_ledgered(docs, id_col, ledger=read_forget_ledger(spark, path))
    frames = {
        "postings": build_inverted_index(docs, text_col, id_col),
        "doclens": docs.select(F.col(id_col), F.size(_tokens(text_col)).alias("dl")),
    }
    if fresh:
        # dup-free (the write_versions default): the postings are
        # aggregated by (term, id) and the doclens projected from the
        # unique-id corpus
        heal_tables(path, BM25_TABLES)
        write_versions(
            spark, path, BM25_TABLES, frames, {"id_col": id_col, "text_col": text_col}
        )
    else:
        # appends go into the RESOLVED current pair (the lock pins the
        # pointer; doclens into the version the postings meta NAMES)
        append_tables(spark, path, BM25_TABLES, open_snapshot(path, BM25_TABLES), frames)


def _impact(k1: float, b: float, avgdl: float) -> Column:
    """One posting's Okapi partial score — the champion ordering key.
    idf is constant within a term, so ordering by this equals ordering
    by the term's full per-doc contribution."""
    tf = F.col("tf").cast("double")
    return (
        tf
        * F.lit(k1 + 1.0)
        / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    )


def _refresh_tiers(spark, path: str, tiers: dict, erase: bool = False) -> None:
    """Rebuild the named tiers ({tier: meta holding its parameters})
    from the CURRENT postings snapshot, resolved once: every tier gets
    the same postings frame and one (n_docs, avgdl) collect. Replayed
    appends leave duplicate rows, so both tables are deduped first — a
    full postings + doclens shuffle — unless `indexio.is_dup_free`
    shows there are none. ``erase`` vacuums each tier's superseded
    versions, which still hold pre-forget rows. Caller holds the
    writer lock."""
    if not tiers:
        return
    snap = open_snapshot(path, BM25_TABLES)
    id_col = snap.meta["id_col"]
    postings = read_table(spark, snap, "postings")
    doclens = read_table(spark, snap, "doclens")
    if not is_dup_free(snap):
        postings = postings.dropDuplicates(["term", id_col])
        doclens = doclens.dropDuplicates([id_col])
    row = doclens.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    stats = {
        "n_docs": int(row["n"]),
        "avgdl": float(row["avgdl"] or 0.0),
        # provenance stamp: the postings VERSION the tier is derived
        # from — readers verify it against the current postings
        # snapshot (_check_tier_stamp), closing the crash window
        # between a forget/compact's postings publish and this refresh
        "postings_dir": os.path.basename(snap.dirs["postings"]),
    }

    def refresh(tier, tm):
        param = _TIERS[tier].param
        meta = {param: tm[param], "k1": tm["k1"], "b": tm["b"], **stats}
        build = {"champions": _refresh_champions, "blocked": _refresh_wand}[tier]
        build(spark, path, postings, id_col, meta, erase)

    # the tiers write disjoint live dirs off the same snapshot:
    # independent jobs, overlapped from driver threads
    # (indexio.overlap_jobs; A/B in CHANGES.md)
    overlap_jobs(*[lambda t=t, tm=tm: refresh(t, tm) for t, tm in tiers.items()])


def _publish_tier(spark, path: str, tier: str, frames: dict, meta: dict,
                  erase: bool) -> None:
    """Publish the next version of one tier: ``frames`` holds the tier
    table and its side table, written inside the new version directory
    in the tier's layout, beside the tier meta (``meta`` plus both
    tables' reader ``schemas``), so ONE pointer flip publishes tier,
    side table and stats together. ``erase`` then vacuums the
    superseded versions. Caller holds the writer lock."""
    spec = _TIERS[tier]
    live = os.path.join(path, tier)
    heal(live)
    target = init_versioned(live)
    # the tier first: its overwrite write would clear a side table
    # written before it
    write_table(frames[tier], target, spec.layout)
    write_table(frames[spec.side], os.path.join(target, spec.side), spec.layout)
    meta = {
        **meta,
        "schemas": {t: reader_schema(df, spec.layout) for t, df in frames.items()},
    }
    write_version_meta(target, spec.meta_name, meta)
    publish(live, target)
    if erase:
        vacuum_versions(live)
    refresh_listings(spark, path, (tier,))


def _refresh_champions(
    spark, path: str, postings: DataFrame, id_col: str, meta: dict, erase: bool
) -> None:
    """(Re)build the champions tier from the snapshot's ``postings``
    under ``meta``'s parameters and stats (`_refresh_tiers`).

    Skew-safe top-N: a stopword's postings all share one term key, so a
    single per-term window would funnel its whole df through one task.
    Phase 1 takes top-N per (term, input partition) — the exchange key
    carries the partition id, splitting any hot term across the cluster
    and bounding phase 2's input at champion_n × n_partitions rows per
    term.

    Everything a champions query plans with is published by ONE pointer
    flip of the champions table: the exact per-term df rides inside the
    version dir as ``_termstats/`` (underscore-hidden from the tier's
    own parquet scan) and the ordering-stats snapshot + the measured
    ``impact_flatness`` ride in the ``CHAMP_META`` sidecar."""
    from pyspark.sql import Window

    champion_n = meta["champion_n"]
    imp = postings.withColumn(
        "_imp", _impact(meta["k1"], meta["b"], meta["avgdl"])
    ).withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy("term", "_pid").orderBy(F.desc("_imp"), F.col(id_col))
    pre = (
        imp.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= champion_n)
        .drop("_rn", "_pid")
    )
    w2 = Window.partitionBy("term").orderBy(F.desc("_imp"), F.col(id_col))
    # pin the two frames consumed by several jobs each: champs_imp (the
    # two-level window chain) feeds the flatness gauge, the range
    # write's bounds sample, and the write itself; tstats (scan + agg)
    # feeds the gauge's broadcast and its own sampled range write —
    # without the pins the window chain executes 3× and the agg 3×
    # per refresh (indexio.pinned_for_write)
    with pinned_for_write(
        pre.withColumn("_rn", F.row_number().over(w2)).filter(
            F.col("_rn") <= champion_n
        ),
        postings.groupBy("term").agg(F.count("*").alias("df")),
    ) as (champs_imp, tstats):
        # Regime gauge (one tiny agg over the kept slice): among terms
        # the tier TRUNCATES (df > champion_n), what fraction have their
        # champion_n-th impact equal to their 1st? Near 1.0 the ordering
        # is tie-broken, not impact-driven — the multi-term
        # approximation has no signal to keep, and the scorer warns
        # (enforcing the measured SCALE.md flat-fixture honesty note as
        # API behavior).
        flat_row = (
            champs_imp.groupBy("term")
            .agg(F.max("_imp").alias("_mx"), F.min("_imp").alias("_mn"))
            .join(F.broadcast(tstats), "term")
            .filter(F.col("df") > champion_n)
            .agg(
                F.count("*").alias("trunc"),
                F.sum((F.col("_mx") == F.col("_mn")).cast("long")).alias("flat"),
            )
            .collect()[0]
        )
        trunc = int(flat_row["trunc"] or 0)
        flatness = float(flat_row["flat"] or 0) / trunc if trunc else 0.0
        _publish_tier(
            spark, path, "champions",
            {"champions": champs_imp.drop("_rn", "_imp"), "_termstats": tstats},
            {**meta, "impact_flatness": round(flatness, 4)},
            erase,
        )


def _refresh_wand(
    spark, path: str, postings: DataFrame, id_col: str, meta: dict, erase: bool
) -> None:
    """(Re)build the block-max tier from the snapshot's ``postings``
    under ``meta``'s parameters and stats (`_refresh_tiers`).

    The tier is the FULL deduped postings with a doc-hash bucket key —
    a doc's postings for every term share one bucket, so per-bucket
    maxima bound any doc's whole score and mode='wand' can prune whole
    buckets without losing exactness. One extra shuffle (the range
    repartition on (term, bucket)); the `_blockmax` side table is a
    ≤ |vocab| × wand_buckets aggregate. Published like champions: one
    pointer flip covers postings + maxima + stats."""
    # pin the bucketed postings: they feed two sampled range writes
    # (the tier itself and the _blockmax side table's aggregate), each
    # of which would otherwise re-run the dedup shuffle + scan lineage
    # (indexio.pinned_for_write)
    with pinned_for_write(
        postings.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(meta["wand_buckets"])).cast("int"),
        )
    ) as blocked:
        # ≤ one row per (term, bucket) pair with postings. Both tables
        # are sorted on (term, bucket): the query's pushed term IN-filter
        # prunes row groups exactly like the exact path, and within a
        # term's range the surviving-bucket IN-filter prunes again —
        # pruned buckets are skipped I/O, not just skipped compute (at
        # 100 TB _blockmax is millions of rows, never collected whole —
        # a query collects only its ≤ |terms| × wand_buckets slice)
        bmax = (
            blocked.withColumn("_imp", _impact(meta["k1"], meta["b"], meta["avgdl"]))
            .groupBy("term", "bucket")
            .agg(F.max("_imp").alias("max_imp"), F.count("*").alias("n_docs"))
        )
        _publish_tier(
            spark, path, "blocked", {"blocked": blocked, "_blockmax": bmax}, meta, erase
        )


def compact_postings_index(spark, path: str) -> dict:
    """OPTIMIZE analog for the postings index: fold replayed-append
    duplicates — keyed (term, doc_id) for postings, (doc_id) for
    doclens, safe because replays write identical rows — restore the
    term sort (appends interleave term ranges across files, weakening
    row-group skipping), bin-pack the per-batch small files, and —
    where the opt-in champions tier exists — refresh it + termstats so
    champions-mode queries see everything appended since the last
    refresh (the tier-merge step of an impact-ordered index). Publishes each table as a new
    version behind one atomic pointer flip under the index writer lock
    (appends queue behind it). Returns {table: files_before/
    files_after/rows}."""
    with writer_lock(path):
        out = compact_tables(spark, path, BM25_TABLES)
        # the tier-merge step that makes appends since the last refresh
        # visible to mode='champions'/'wand', for the tiers the build
        # created (params carried from the current tier)
        _refresh_tiers(spark, path, _stored_tiers(path))
    return out


def forget_from_postings_index(
    spark, path: str, forget_ids: DataFrame, erase: bool = False
) -> dict:
    """Right-to-be-forgotten DELETE for the postings index — extends
    `operators/forget.py:41`'s table cascade into the stored lexical
    index: a forgotten document's (term, doc_id, tf, dl) postings and
    its doclens row otherwise survive every version directory (and keep
    shifting N/avgdl/df, i.e. the doc keeps influencing OTHER docs'
    scores). ``forget_ids`` is a one-column DataFrame of doc ids (tiny
    — the GDPR-request shape), applied as a BROADCAST anti-join;
    postings and doclens publish as new versions behind the single
    atomic pointer flip (doclens first, the new postings meta NAMES it
    — the same two-table commit as build/compact). The champions and
    block-max tiers, where built, are then REFRESHED from the filtered
    snapshot (`_refresh_tiers`, still under the writer lock): tier
    contents are NOT per-doc-filterable — champion
    selection, block maxima, and the (n_docs, avgdl) stats sidecars all
    change when docs leave — so the refresh is what makes the published
    index equal an index FRESHLY BUILT from the corpus minus the
    forgotten docs, postings rows AND tiers AND stats (postings rows
    are per-(term, doc) functions of the doc alone, so the filtered
    table is literally the fresh-build table; pinned by
    tests/test_skew_forget.py and the index_forget_audit carrier's
    oracle). Idempotent: a replayed forget removes 0 rows and
    republishes identical content. Surviving docs' replay-duplicate
    rows pass through; folding them stays `compact_postings_index`'s
    job (the tier refresh dedups them whenever appends since the last
    build or compact may have left any — `indexio.is_dup_free`).

    The forget set is also recorded in the index's suppression ledger
    (ids only — `operators/indexio.py append_forget_ledger`), so an
    at-least-once replay of a pre-forget epoch cannot re-append the
    forgotten docs' rows: forget WINS over replay (the append verb
    anti-joins against the ledger under the lock). Crash safety for
    the publish→tier-refresh window: each tier's meta is stamped with
    the postings version it was derived from; readers fail loudly on
    a mismatch and any locked writer repairs it (`_check_tier_stamp` /
    `_heal_stale_tiers`).

    ``erase=True`` upgrades to PHYSICAL erasure: every superseded
    version of postings/doclens is vacuumed at their publish, and of
    each tier at its refresh (`indexio.vacuum_versions` — the reference's
    ``VACUUM ... RETAIN 0 HOURS``, `resources/TPC-datagen-notebook.
    scala:2076-2092`), so no pre-forget byte survives on disk. The
    documented GDPR trade: erase-grade forget forfeits the one-version
    reader-retention window — a reader whose listing predates the
    forget fails loudly and retries (never a partial read). Returns
    {table: {rows_before, rows_removed, rows_after}}.

    Cost: the caller's ``forget_ids`` lineage runs once — its distinct
    id set is pinned for the call and released before returning."""
    with pinned_forget_ids(forget_ids) as ids, writer_lock(path):
        out = forget_rows(spark, path, BM25_TABLES, ids, erase=erase)
        # tier refresh = the fresh-build equality step (see docstring)
        _refresh_tiers(spark, path, _stored_tiers(path), erase=erase)
    return out


def _tier_snapshot(path: str, tier: str) -> Snapshot:
    """One tier's published snapshot — its version directory, the side
    table inside it and the tier meta, from one pointer read, so the
    stats a query plans with describe the tables it scans. Raises
    FileNotFoundError for a tier never built."""
    spec = _TIERS[tier]
    vd, meta = snapshot_meta(os.path.join(path, tier), spec.meta_name)
    return Snapshot({tier: vd, spec.side: os.path.join(vd, spec.side)}, meta)


def _check_tier_stamp(path: str, tm: dict, tier: str) -> None:
    """Fail loudly when a stored tier is older than the postings
    snapshot it claims to serve. The forget/compact verbs publish the
    filtered postings FIRST and refresh the tiers as later steps under
    the same lock; a crash in between would otherwise leave forgotten
    docs' rows live in the champions/wand read paths INDEFINITELY
    (heal() clears version debris, not tier staleness) — silently
    voiding the right-to-be-forgotten guarantee. Each tier's meta is
    stamped with the postings version it was derived from
    (`_refresh_tiers`); a mismatch means exactly
    that crash happened, and any locked writer verb (compact, forget,
    append — all end by refreshing stale tiers) repairs it.

    NOT a staleness check for APPENDS: appends write through the
    pointer into the SAME postings version (no new version dir), so
    the stamp still matches — tier-vs-append staleness remains the
    documented compact-cadence contract."""
    stamp = tm["postings_dir"]
    cur = os.path.basename(current_version_dir(os.path.join(path, "postings")))
    if stamp != cur:
        raise RuntimeError(
            f"{tier} tier at {path!r} was derived from postings version "
            f"{stamp!r} but the current postings snapshot is {cur!r} — a "
            f"writer crashed between its postings publish and the tier "
            f"refresh, so this tier may still serve rows the postings "
            f"have deleted (e.g. a forgotten document). Run any locked "
            f"writer verb (compact_postings_index repairs in place) or "
            f"query with mode='exact'."
        )


def _tier_params(cm: dict, k1: float | None, b: float | None, tier: str):
    """Resolve scoring params for a stored tier: the tier's ordering
    was computed under the STORED k1/b, so an override that differs
    silently voids the tier's guarantees (champions: impact order =
    score order; wand: block maxima bound the scores). None → stored;
    a matching explicit value is allowed; a different one raises."""
    for name, given, stored in (("k1", k1, cm["k1"]), ("b", b, cm["b"])):
        if given is not None and given != stored:
            raise ValueError(
                f"{tier} tier was built with {name}={stored}; scoring it "
                f"with {name}={given} would break the tier's ordering "
                f"guarantees. Pass {name}=None (default) to score with "
                f"the stored parameters, or rebuild the tier."
            )
    return cm["k1"], cm["b"]


def query_postings_index(
    spark,
    path: str,
    query: str,
    k: int = 20,
    k1: float | None = None,
    b: float | None = None,
    mode: str = "exact",
) -> DataFrame:
    """BM25 top-k over the stored postings.

    mode="exact" (default): (N, avgdl) reduce from the doclens table
    (1-row aggregate — reflects every append); the postings read
    carries a pushed term IN-filter, so only the query terms' row
    groups are scanned. Both legs dedup replayed-append rows before
    any stat is derived (postings on the filtered slice only — the
    dedup shuffle carries query-term postings, never the corpus), so
    scores are identical before and after compaction. Cost is honest:
    ∝ Σ df(term) — a stopword-grade term scans its whole postings
    slice.

    mode="champions": score over the impact-ordered champions tier —
    per term at most champion_n postings, so a common term costs
    O(champion_n) instead of O(df); idf uses the exact stored df
    (termstats) and the stats snapshot the tier was ordered under.
    Guarantees: single-term top-k (k ≤ champion_n) is EXACT (impact
    order = score order within a term); multi-term top-k is the
    standard champion-list approximation (a doc championed for only
    some of its matching terms scores a lower bound) and is exact
    whenever champion_n covers every query term's df. The
    approximation's quality depends on IMPACT SKEW: champion lists
    earn their keep on natural corpora (Zipf tf, varied doc lengths),
    where high-impact postings are rare and stable; on a flat-impact
    corpus (uniform tf≈1, near-equal dl — e.g. this repo's synthetic
    fixture) per-term impact is nearly tied, the tier truncates on the
    tie-break, and measured multi-term recall@10 at champion_n=8 is
    ~0 (reaching exactness at full df coverage, which is what the
    oracle carrier pins). The build measures this (impact_flatness in
    CHAMP_META) and a multi-term champions query over a near-flat tier
    emits a UserWarning. Size champion_n against the corpus's impact
    distribution, use mode='wand' for exact sublinear multi-term, or
    mode='exact'. Reflects the corpus as of the last build/compact —
    appends since then are visible to exact mode only (run compact
    to fold them in).

    mode="wand": Block-Max WAND over the doc-hash-bucketed tier —
    EXACT top-k (hash-equal to mode='exact' over the tier's snapshot,
    any corpus, any query shape): a threshold seeded from the
    highest-bound buckets prunes every bucket whose score upper bound
    can't reach the current k-th score, and survivors are scored
    exactly. Sublinear whenever impact skew exists (Zipf corpora);
    degrades to the exact scan cost — never to a wrong answer — on
    flat-impact data. Planning is distributed: every driver collect
    is bounded by k or |terms| (seed limit-collect + 2-scalar prune
    stats), never by bucket or corpus count; small kept sets inline
    as a pushed bucket-IN filter (row-group skipping), large ones
    broadcast-semi-join the kept frame. Same refresh cadence as
    champions.

    For champions/wand, ``k1``/``b`` default to the STORED tier
    parameters; passing explicit values that differ raises (the tier's
    ordering/bounds were computed under the stored ones)."""
    # The postings meta is the index's one meta copy. Exact mode binds
    # both scans to the RESOLVED version pair (the postings meta names
    # its doclens version — one flip covers both tables): the snapshot
    # stays complete across one subsequent compact (indexio retention),
    # so a query planned pre-compact evaluates correctly post-compact
    # and can never pair tables from different builds.
    snap = open_snapshot(path, BM25_TABLES)
    id_col = snap.meta["id_col"]
    if mode == "champions":
        return _query_champions(spark, path, query, k, k1, b, id_col)
    if mode == "wand":
        return _query_wand(spark, path, query, k, k1, b, id_col)
    if mode != "exact":
        raise ValueError(
            f"unknown mode {mode!r}: expected 'exact', 'champions' or 'wand'"
        )
    k1 = 1.2 if k1 is None else k1
    b = 0.75 if b is None else b
    row = (
        read_table(spark, snap, "doclens")
        .dropDuplicates([id_col])
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    postings = read_table(spark, snap, "postings")
    terms = sorted(set(_py_tokens(query)))
    if terms:  # pre-filter BEFORE the dedup shuffle: only query-term
        # postings pay it (the same pushed IN-filter the scorer applies)
        postings = postings.filter(F.col("term").isin(terms))
    postings = postings.dropDuplicates(["term", id_col])
    return bm25_topk_from_index(
        postings, (int(row["n"]), float(row["avgdl"])), query, k,
        id_col=id_col, k1=k1, b=b,
    )


def _query_champions(
    spark, path: str, query: str, k: int, k1: float | None, b: float | None,
    id_col: str,
) -> DataFrame:
    """Champions-mode scorer: per query term, at most champion_n
    impact-ordered postings + one exact-df row — cost bounded by the
    tier size, independent of the term's full posting-list length.
    A missing champions tier (the tier is opt-in) fails loudly;
    rebuild with ``champion_n`` set to materialize it."""
    import warnings

    try:
        snap = _tier_snapshot(path, "champions")
    except FileNotFoundError as e:
        raise RuntimeError(
            f"index at {path!r} has no champions tier (it is opt-in): "
            f"rebuild with build_postings_index(..., champion_n=N) — or "
            f"query with mode='exact'/'wand'"
        ) from e
    cm = snap.meta
    _check_tier_stamp(path, cm, "champions")
    k1, b = _tier_params(cm, k1, b, "champions")
    terms = sorted(set(_py_tokens(query)))
    if not terms:
        raise ValueError("query produced no tokens")
    flatness = cm["impact_flatness"]
    if len(terms) > 1 and flatness > 0.5:
        warnings.warn(
            f"champions tier at {path!r} has near-flat impacts "
            f"(impact_flatness={flatness}: that fraction of truncated "
            f"terms tie their 1st and {cm['champion_n']}th impact), so "
            f"multi-term champions answers are tie-break truncations "
            f"with little recall signal — use mode='wand' (exact, "
            f"sublinear under skew) or mode='exact', or raise "
            f"champion_n. Single-term queries remain exact.",
            UserWarning,
            stacklevel=3,
        )
    hits = read_table(spark, snap, "champions").filter(F.col("term").isin(terms))
    # exact df per term (idf from the truncated champion slice would be
    # wrong for any term with df > champion_n) — a ≤|terms|-row slice
    # of the term-sorted stats table riding in the SAME published
    # version dir as the tier (one pointer flip covers tier + df +
    # stats, so a query racing a compact scores one snapshot, like the
    # exact path)
    df_t = (
        read_table(spark, snap, "_termstats")
        .filter(F.col("term").isin(terms))
        .select("term", "df")
    )
    scored = hits.join(F.broadcast(df_t), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(cm["n_docs"]) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(cm["avgdl"])
    )
    per_term = scored.select(
        F.col(id_col), "term", (idf * tf * F.lit(k1 + 1.0) / norm).alias("_s")
    )
    return (
        _sum_scores_deterministic(per_term, id_col)
        .orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_score", 4).alias("bm25_score"))
    )


WAND_COLLECT_MAX = 4096
# One extra θ-refinement round (multi-term only) triggers when the
# kept set is this many times larger than the scored seed — at that
# ratio the two bounded extra jobs (a limit-collect + an ≤|seed|-bucket
# scoring pass) are guaranteed cheap relative to the final scan they
# shrink. Below it, θ is already within noise of the true k-th score
# (the seed covers every bucket that could hold a top-k doc).
WAND_REFINE_FACTOR = 4


def _wand_plan(
    spark, path: str, query: str, k: int, k1: float | None, b: float | None
) -> dict:
    """The Block-Max WAND plan: which buckets must be scored for an
    EXACT top-k. Returns a dict the scorer (and the scale-evidence
    tooling / tests) consume:

    {tier (the blocked tier's indexio.Snapshot), terms, idf: {term:
     idf}, n_docs, avgdl, k1, b,
     seed: [bucket...], kept: [bucket...] | None, kept_count, theta,
     candidate_buckets, total_buckets(wand_buckets),
     postings_kept, postings_total}

    Mechanics (Ding & Suel's block-max pruning, batched): the
    ``_blockmax`` slice for the query's terms reduces DISTRIBUTED to
    one row per candidate bucket — ub(B) = Σ_t idf_t · max_imp(t, B),
    an exact per-doc score bound because a doc's postings all share
    its hash bucket. Every driver collect is bounded by k or |terms|,
    never by bucket or corpus count: the SEED is the FULL top
    max(k, 8k) buckets by ub (a limit-collect), scored exactly so its
    k-th score becomes the threshold θ — a lower bound on the true
    k-th score, since seed scores are true scores. Scoring all
    max(k, 8k) seed buckets (never early-stopping once they cover k
    docs — the round-10 planner did, and its θ sat measurably under
    the true k-th score on multi-term queries, keeping ~2.7× more
    postings than a perfect θ would) matters because every bucket
    holding a true top-k doc has ub ≥ that doc's score ≥ θ*, i.e. the
    true winners' buckets sort INTO the top of the ub order: a
    max(k,8k)-wide seed recovers θ = θ* exactly whenever fewer than
    max(k,8k) buckets have ub ≥ θ*. Pruning then happens DISTRIBUTED
    over ONE persisted per-bucket frame (the same materialization
    later feeds the large-kept-set scorer, so plan stats always
    describe the executed scan): kept = buckets with ub ≥ θ - 1e-9,
    reduced to a 2-scalar stats row. If the kept set still dwarfs the
    seed (multi-term at extreme scale, where >max(k,8k) buckets clear
    θ*), ONE refinement round scores the next max(k, 8k) kept buckets
    by ub, merges true top-k scores driver-side, raises θ, and
    re-prunes — two more bounded jobs, still nothing proportional to
    bucket or corpus count. The id list is collected only when
    kept_count ≤ WAND_COLLECT_MAX (small lists keep the pushed
    bucket-IN filter and its row-group skipping), otherwise
    ``kept`` is None and the scorer broadcast-joins the kept-bucket
    frame instead (`_score_kept_join`).
    Exactness: any doc with true score ≥ θ lives in a bucket with
    ub ≥ score ≥ θ, hence unpruned — and θ only ever moves up to
    another true score's value, so refinement cannot overshoot the
    true k-th score. The float-margin guard (1e-9) keeps a
    bound-achieving doc on a boundary bucket safe from
    summation-order jitter in θ or ub."""
    import math

    snap = _tier_snapshot(path, "blocked")
    wm = snap.meta
    _check_tier_stamp(path, wm, "wand")
    k1, b = _tier_params(wm, k1, b, "wand")
    id_col = open_snapshot(path, BM25_TABLES).meta["id_col"]
    terms = sorted(set(_py_tokens(query)))
    if not terms:
        raise ValueError("query produced no tokens")
    n_docs, avgdl = int(wm["n_docs"]), float(wm["avgdl"])
    bmax = read_table(spark, snap, "_blockmax").filter(F.col("term").isin(terms))
    df_t = {
        r["term"]: int(r["df"])
        for r in bmax.groupBy("term").agg(F.sum("n_docs").alias("df")).collect()
    }
    idf = {
        t: math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        for t, df in df_t.items()
    }
    plan = {
        "tier": snap,
        "id_col": id_col,
        "terms": terms,
        "idf": idf,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "k1": k1,
        "b": b,
        "total_buckets": int(wm["wand_buckets"]),
        "postings_total": sum(df_t.values()),
    }
    if not df_t:  # no query term occurs in the corpus
        plan.update(
            {"seed": [], "kept": [], "kept_count": 0, "theta": None,
             "candidate_buckets": 0, "postings_kept": 0, "refined": False}
        )
        return plan
    from pyspark import StorageLevel

    # ONE materialization feeds the seed limit-collect, both prune
    # stats passes, and (for large kept sets) the scorer's semi-join —
    # the plan's kept_count/postings_kept therefore describe exactly
    # the scan the scorer executes (no float re-summation drift
    # between a stats job and a separate scoring job). Rows are ≤ one
    # per candidate bucket (4 narrow columns). The inline-kept path
    # unpersists before returning; the large-kept path hands the
    # persisted frame to the caller under plan["_per_bucket"] —
    # _query_wand unpersists it after materializing the top-k (persist
    # registers a strong CacheManager reference, so "evictable" alone
    # would still leak one entry per large-kept query).
    per_bucket = _wand_per_bucket(bmax, idf).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _wand_plan_body(spark, plan, per_bucket, terms, k)
    except Exception:
        # a failure in the seed scoring / refinement / stats collects
        # must not strand the cached frame for the session lifetime —
        # persist registers a strong CacheManager reference (round-11
        # ADVICE); the documented handoff of plan["_per_bucket"] applies
        # only to the successful large-kept return inside the body
        per_bucket.unpersist()
        raise


def _wand_plan_body(spark, plan: dict, per_bucket, terms: list[str], k: int) -> dict:
    """Planning body over the persisted per-bucket frame — split out so
    `_wand_plan` can release the cache on ANY exception path while the
    successful large-kept return still hands the persisted frame to the
    caller under plan["_per_bucket"] (see the docstring above)."""
    # SEED: the FULL top max(k, 8k) buckets by ub — see the docstring
    # for why scoring all of them (not stopping once k docs are
    # covered) is what makes θ reach the true k-th score.
    need = max(k, 8 * k)
    top = (
        per_bucket.orderBy(F.col("ub").desc(), "bucket").limit(need).collect()
    )
    seed = [int(r["bucket"]) for r in top]
    have = sum(int(r["docs_lb"]) for r in top)
    plan["seed"] = seed
    theta = None
    seed_topk: list[float] = []
    if have >= k:
        seed_topk = [
            float(r["_score"])
            for r in _score_buckets(spark, plan, seed)
            .orderBy(F.col("_score").desc())
            .limit(k)
            .collect()
        ]
        if len(seed_topk) >= k:
            theta = seed_topk[-1]
    plan["theta"] = theta

    # PRUNE, distributed: no collect is ever proportional to bucket
    # count. theta None (fewer than k matching docs) keeps everything.
    def _kept_stats(pred):
        row = per_bucket.agg(
            F.count("*").alias("cand"),
            F.sum(pred.cast("long")).alias("kept_n"),
            F.sum(F.when(pred, F.col("postings")).otherwise(0)).alias(
                "kept_postings"
            ),
        ).collect()[0]
        return (
            int(row["cand"] or 0),
            int(row["kept_n"] or 0),
            int(row["kept_postings"] or 0),
        )

    kept_pred = (
        F.lit(True) if theta is None else F.col("ub") >= F.lit(theta - 1e-9)
    )
    cand, kept_count, postings_kept = _kept_stats(kept_pred)

    # REFINEMENT (multi-term only): when more than max(k,8k) buckets
    # clear θ*, the seed provably cannot have scored every potential
    # winner — score the next tranche of kept buckets by ub, merge
    # true top-k scores driver-side (buckets are disjoint, so no doc
    # repeats), raise θ, re-prune. θ stays a true-score lower bound.
    plan["refined"] = False
    if (
        theta is not None
        and len(terms) > 1
        and kept_count > WAND_REFINE_FACTOR * max(1, len(seed))
    ):
        tranche = [
            int(r["bucket"])
            for r in per_bucket.filter(
                kept_pred & ~F.col("bucket").isin(seed)
            )
            .orderBy(F.col("ub").desc(), "bucket")
            .limit(need)
            .collect()
        ]
        if tranche:
            tranche_topk = [
                float(r["_score"])
                for r in _score_buckets(spark, plan, tranche)
                .orderBy(F.col("_score").desc())
                .limit(k)
                .collect()
            ]
            merged = sorted(seed_topk + tranche_topk, reverse=True)[:k]
            if len(merged) >= k and merged[-1] > theta:
                theta = merged[-1]
                plan["theta"] = theta
                plan["refined"] = True
                kept_pred = F.col("ub") >= F.lit(theta - 1e-9)
                cand, kept_count, postings_kept = _kept_stats(kept_pred)

    plan.update(
        {
            "kept_count": kept_count,
            "candidate_buckets": cand,
            "postings_kept": postings_kept,
        }
    )
    if kept_count <= WAND_COLLECT_MAX:
        kept_rows = (
            per_bucket.filter(kept_pred)
            .orderBy(F.col("ub").desc(), "bucket")
            .select("bucket")
            .collect()
        )
        plan["kept"] = [int(r["bucket"]) for r in kept_rows]
        per_bucket.unpersist()
    else:
        # scorer joins a filter OVER the same persisted frame — stats
        # cannot drift from the executed scan (the filter re-evaluates
        # on the cached partitions, identical floats). The persisted
        # parent rides along for the consumer to unpersist once the
        # result is materialized (_query_wand does; direct planner
        # callers that never score should unpersist it themselves).
        plan["kept"] = None
        plan["_kept_frame"] = per_bucket.filter(kept_pred)
        plan["_per_bucket"] = per_bucket
    return plan


def _wand_per_bucket(bmax, idf: dict):
    """Per-candidate-bucket (ub, docs_lb, postings) frame from the
    query-terms ``_blockmax`` slice — stays distributed; the planner
    only limit-collects or aggregate-collects it."""
    idf_map = F.create_map(*[F.lit(x) for kv in idf.items() for x in kv])
    return bmax.groupBy("bucket").agg(
        F.sum(F.element_at(idf_map, F.col("term")) * F.col("max_imp")).alias("ub"),
        F.max("n_docs").alias("docs_lb"),
        F.sum("n_docs").alias("postings"),
    )


def _score_buckets(spark, plan: dict, buckets: list[int]) -> DataFrame:
    """Exact BM25 over the blocked tier restricted to ``buckets``:
    the pushed (term IN, bucket IN) filters land on the (term, bucket)
    sort, so pruned buckets are skipped row groups, not filtered rows.
    The per-term idf constants ride in a literal map (the driver
    already holds them from the blockmax slice — no second stats job),
    and only matched postings' (doc_id, partial score) cross the one
    exchange. Returns (id_col, raw ``_score``). For kept sets too
    large to ride in a literal IN (sparse pruning on a huge corpus),
    use `_score_kept_join` instead."""
    hits = (
        read_table(spark, plan["tier"], "blocked")
        .filter(F.col("term").isin(plan["terms"]))
        .filter(F.col("bucket").isin([int(x) for x in buckets]))
    )
    return _score_hits(hits, plan)


def _score_kept_join(spark, plan: dict) -> DataFrame:
    """Exact BM25 over the kept buckets when their id list is too
    large to collect/inline (plan["kept"] is None): broadcast-semi-join
    the planner's OWN persisted kept-bucket frame (plan["_kept_frame"]
    — the same materialization its stats pass aggregated, so
    kept_count/postings_kept describe exactly this scan) onto the
    postings scan. The term IN-filter still pushes into parquet;
    bucket pruning becomes a join-side filter — at this kept density
    row-group skipping had no bite anyway, and nothing bucket-shaped
    ever reaches the driver. Hand-built plans without the frame (the
    forced-path test, external tooling) re-derive it from the pinned
    blockmax slice; the ub ≥ θ - 1e-9 margin keeps recomputed float
    sums agreeing with the planner's prune on that fallback path."""
    kept = plan.get("_kept_frame")
    if kept is None:
        bmax = read_table(spark, plan["tier"], "_blockmax").filter(
            F.col("term").isin(plan["terms"])
        )
        kept = _wand_per_bucket(bmax, plan["idf"])
        if plan["theta"] is not None:
            kept = kept.filter(F.col("ub") >= F.lit(plan["theta"] - 1e-9))
    hits = (
        read_table(spark, plan["tier"], "blocked")
        .filter(F.col("term").isin(plan["terms"]))
        .join(F.broadcast(kept.select("bucket")), "bucket", "left_semi")
    )
    return _score_hits(hits, plan)


def _score_hits(hits: DataFrame, plan: dict) -> DataFrame:
    """Shared exact scorer over a filtered postings frame."""
    id_col = plan["id_col"]
    k1, b, avgdl = plan["k1"], plan["b"], plan["avgdl"]
    idf_map = F.create_map(
        *[F.lit(x) for kv in plan["idf"].items() for x in kv]
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    per_term = hits.select(
        F.col(id_col),
        "term",
        (F.element_at(idf_map, F.col("term")) * tf * F.lit(k1 + 1.0) / norm).alias(
            "_s"
        ),
    )
    return _sum_scores_deterministic(per_term, id_col)


def _query_wand(
    spark, path: str, query: str, k: int, k1: float | None, b: float | None,
    id_col: str,
) -> DataFrame:
    """WAND-mode scorer: prune with `_wand_plan`, then score the kept
    buckets exactly — identical output contract (and hash-identical
    values over the tier's snapshot) to mode='exact'. A missing
    blocked tier (opt-in) fails loudly; rebuild with ``wand_buckets``
    set to materialize it."""
    try:
        plan = _wand_plan(spark, path, query, k, k1, b)
    except FileNotFoundError as e:
        raise RuntimeError(
            f"index at {path!r} has no block-max tier (it is opt-in): "
            f"rebuild with build_postings_index(..., wand_buckets=B) — "
            f"or query with mode='exact'/'champions'"
        ) from e
    if plan["kept_count"] == 0:
        # no query term occurs: empty frame, id type taken from the tier
        empty = (
            read_table(spark, plan["tier"], "blocked")
            .select(F.col(id_col), F.lit(0.0).alias("bm25_score"))
            .limit(0)
        )
        return empty
    if plan["kept"] is not None:
        scored = _score_buckets(spark, plan, plan["kept"])
    else:  # kept set too large to inline — distributed semi-join prune
        scored = _score_kept_join(spark, plan)
    out = (
        scored.orderBy(F.col("_score").desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("_score", 4).alias("bm25_score"))
    )
    per_bucket = plan.pop("_per_bucket", None)
    if per_bucket is not None:
        # materialize the ≤k-row answer, then release the planner's
        # cached per-bucket frame — persist holds a strong CacheManager
        # reference, so a lazy return would leak one entry per
        # large-kept query for the session's lifetime; the rows come
        # back as an Arrow-backed local relation, whose consumers start
        # no job
        table = out.toArrow()
        per_bucket.unpersist()
        return spark.createDataFrame(table, out.schema)
    return out

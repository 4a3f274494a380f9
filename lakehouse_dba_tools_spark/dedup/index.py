"""Persisted MinHash-LSH index: continuous-ingestion near-dup dedup.

`lsh_candidate_pairs_bipartite` (minhash.py) already gives batch-vs-
corpus candidates, but it recomputes the corpus's signatures every
run. At 100 TB the corpus side is computed ONCE and stored; each
ingest batch then (1) signs only its own documents, (2) joins its band
keys against the stored band table, (3) verifies exact Jaccard against
the stored shingle-hash table, and (4) appends its own rows so the
next batch dedups against it too. This module is that lifecycle.

On-disk layout under ``path`` (plain parquet — same no-jars boundary
as operators/upsert.py):

- ``bands/``  (doc_id, band_idx, band_key), partitioned by band_idx —
  the candidate generator. Partitioning by band_idx lets a band-
  parallel reader prune, and keeps each append writing exactly
  ``bands`` directories.
- ``shash/``  (doc_id, shash array<bigint>) — distinct xxhash64'd
  shingles per doc, the compact verify-side payload (8 B/shingle;
  document TEXT never enters the index).
- ``_lsh_meta.json``  {k, num_perm, bands, seed, shash_dir} —
  signatures only collide within one permutation family, so
  query/append take their parameters FROM the stored meta (callers
  cannot pass divergent ones) and a missing meta file fails loudly
  instead of finding nothing. ``shash_dir`` names the shash VERSION
  this bands snapshot pairs with: the index spans two tables, and two
  independent pointer flips would leave a window (crash mid-build, or
  a reader racing a full rebuild over a different corpus) where new
  bands pair with old shash — candidates verifying against absent
  shash rows are dropped SILENTLY. Riding the pairing inside the
  bands version meta makes the bands flip the single atomic commit
  for the whole index (the same pattern as the IVF cid manifest and
  the champions _termstats); readers resolve bands ONCE and take the
  shash version that snapshot names. Pre-round-10 indexes lack the
  key and fall back to the live shash pointer.

Scale notes: query cost is |batch| signatures + one join against the
band table (shuffle carries (band_key, id) pairs only) + a verify join
that fetches stored shash rows for candidate ids only (semi-join
pattern — the full shash table is never materialized). Appends create
one file per band partition per batch; `compact_lsh_index` is the
bin-pack OPTIMIZE analog, run on the usual small-file cadence.

Writer semantics (operators/indexio.py): build/append/compact hold an
exclusive flock on the index root, so an append can never land inside
a compaction's swap window; each table's live path is a symlink to a
versioned directory and compaction publishes with one atomic pointer
flip, so the live path always resolves to a complete tree — a crash
mid-compact leaves at worst an orphan version dir that the next
locked writer removes. The newest superseded version is RETAINED
after a publish (indexio's tombstone-retention analog): a reader
whose cached file listing predates one compact completes against the
snapshot it planned on, and because queries are duplicate-tolerant
that answer equals the post-compact one; only a reader ≥2 compacts
stale fails loudly and retries — it can never silently read a partial
index. Multi-HOST atomicity carries the repo-wide documented
Delta-jars boundary.

Reference parity note: the reference repo has no index lifecycle —
this is part of the training-data-pipeline surface the build brief
adds as first-class (dedup at continuous-ingest scale).
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.indexio import (
    append_forget_ledger,
    compact_forget_ledger,
    current_version_dir,
    filter_ledgered,
    read_forget_ledger,
    heal,
    init_versioned,
    overlap_jobs,
    parquet_file_count,
    publish,
    snapshot_meta,
    vacuum_versions,
    write_snapshot_table,
    write_version_meta,
    writer_lock,
)
from lakehouse_dba_tools_spark.dedup.minhash import (
    band_keys,
    verify_pairs_exact_jaccard_hashed,
    with_shingle_set,
)

META_NAME = "_lsh_meta.json"

# Default banding of the 64-perm signature family. Oracle carriers that
# pin per-doc band-row counts (index_forget_audit, gdpr_erasure_e2e)
# derive their row arithmetic FROM this constant and pass it explicitly
# at their build sites, so a future default change surfaces as an
# obvious parameter, never a confusing count mismatch.
DEFAULT_BANDS = 16


def _index_rows(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_perm: int,
    bands: int,
    seed: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(band rows, shash rows, pinned shingle hashes) for a document
    set — the only signature computation in the lifecycle; build and
    append both route here so index contents cannot drift from the
    query side's expectations. The pinned pass holds the xxhash64'd
    shingles (8-byte longs), NOT the shingle strings: both outputs
    consume the hashes — the signature min-fold folds them directly
    (bit-identical to hashing inside the fold; rebuild_lsh_index
    already recomputes signatures from stored hashes on that
    guarantee) and shash is their distinct — so hashing once at the
    pin makes the strings never persist and never recompute per
    consumer. SQL-cache entries are NOT garbage collected: the caller
    MUST unpersist the third return once its consumers are
    materialized, or a long-running ingest loop leaks one cache entry
    per batch."""
    from pyspark import StorageLevel

    from lakehouse_dba_tools_spark.dedup.minhash import _signature_udf

    hashed = (
        with_shingle_set(docs, text_col, id_col, k)
        .select(
            F.col(id_col),
            F.transform("shingles", lambda s: F.xxhash64(s)).alias("_sh_hashes"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    signed = hashed.withColumn(
        "signature", _signature_udf(num_perm, seed)(F.col("_sh_hashes"))
    )
    bk = band_keys(signed, id_col, bands, num_perm // bands)
    sh = hashed.select(
        F.col(id_col), F.array_distinct("_sh_hashes").alias("shash")
    )
    return bk, sh, hashed


def build_lsh_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 64,
    bands: int = DEFAULT_BANDS,
    seed: int = 42,
) -> dict:
    """Materialize the index from an initial corpus. Overwrites
    ``path``. Builds honor the suppression ledger like appends do: a
    periodic full REBUILD over the same path, fed a corpus snapshot
    that predates an erasure, must not re-index the forgotten docs (a
    backfill un-erasing is exactly what the ledger exists to prevent —
    the scrubbed source of truth is the cascade's job, the ledger is
    the index-side backstop). Returns the meta dict."""
    bk, sh, pinned = _index_rows(docs, text_col, id_col, k, num_perm, bands, seed)
    # Materialize the shared shingle pin BEFORE the overlapped table
    # writes consume it concurrently: Spark's cache dedupes per
    # partition, but two jobs racing first materialization can compute
    # some partitions twice (the training_corpus_e2e pattern — one
    # cheap count, then every overlapped consumer reads the cache).
    pinned.count()
    meta: dict = {"k": k, "num_perm": num_perm, "bands": bands, "seed": seed,
                  "id_col": id_col, "text_col": text_col}
    with writer_lock(path):
        bands_live = os.path.join(path, "bands")
        sh_live = os.path.join(path, "shash")
        heal(bands_live)
        heal(sh_live)
        # backfill-resurrection guard, under the lock (one ledger read
        # filters both frames; no-op on a path with no forget history)
        ledger = read_forget_ledger(docs.sparkSession, path)
        bk = filter_ledgered(bk, path, id_col, ledger=ledger)
        sh = filter_ledgered(sh, path, id_col, ledger=ledger)
        # the shash version is NAMED by the bands meta — the bands
        # pointer flip is then the single atomic commit for the
        # two-table index (a crash or racing reader before that flip
        # still resolves the OLD bands meta, which names the OLD,
        # retained shash version; tables from different builds can
        # never pair silently). Naming needs only the target PATH, so
        # the two table writes are independent jobs — overlapped from
        # driver threads (indexio.overlap_jobs): each write's straggler
        # tail back-fills the other's idle executors, and both consume
        # the same pinned shingle pass. Publishes stay ordered after
        # both complete, so the commit semantics are unchanged (a crash
        # mid-writes leaves orphan version dirs for heal, exactly as
        # before).
        sh_target = init_versioned(sh_live)
        bands_target = init_versioned(bands_live)
        # bands clustered by band before the partitioned write (the
        # Iceberg write.distribution-mode=hash analog): an unclustered
        # partitionBy write emits one file per (input task × band) —
        # measured 512 files for 624 KiB at gate SF, and every
        # subsequent query/forget/residual read pays the per-file open
        # cost. One exchange of (doc_id, band_idx, band_key) triples —
        # the payload the band table IS — buys the same one-file-per-
        # band layout compact_lsh_index publishes.
        overlap_jobs(
            lambda: sh.write.mode("overwrite").parquet(sh_target),
            lambda: bk.repartition(F.col("band_idx"))
            .write.mode("overwrite")
            .partitionBy("band_idx")
            .parquet(bands_target),
        )
        meta["shash_dir"] = os.path.basename(sh_target)
        write_version_meta(bands_target, META_NAME, meta)
        publish(sh_live, sh_target)
        publish(bands_live, bands_target)
        # root-level copy is informational only (humans / legacy
        # tooling); every reader goes through snapshot_meta
        with open(os.path.join(path, META_NAME), "w") as fh:
            json.dump(meta, fh)
    pinned.unpersist()
    _refresh(docs.sparkSession, path)
    return meta


def read_lsh_meta(path: str) -> dict:
    """Parameters of the CURRENT published snapshot (resolved through
    the bands pointer — atomically coupled with the band tables)."""
    return snapshot_meta(os.path.join(path, "bands"), META_NAME, path)[1]


def _shash_dir(path: str, m: dict) -> str:
    """The shash version directory PAIRED with a bands snapshot's meta
    (the single-flip coupling — see the module docstring). Falls back
    to the live shash pointer for pre-round-10 indexes whose meta
    predates the ``shash_dir`` key, and to a FLAT live directory when
    the named version is gone because an external tool flattened the
    layout (the legacy-migration scenario heal() recovers). A named
    version reclaimed while the live path is still versioned (reader
    ≥2 compacts stale, or post-vacuum) stays pointed-at and fails
    loudly on first file access — the standard retention contract,
    never a silent re-pair with a different build's table."""
    live = os.path.join(path, "shash")
    if "shash_dir" in m:
        named = os.path.join(path, m["shash_dir"])
        if not os.path.isdir(named) and os.path.isdir(live) and not os.path.islink(live):
            # Loud, not silent: if an external actor both reclaimed
            # the named version AND placed a DIFFERENT build's table
            # at the flat path, the single-flip pairing guarantee is
            # void — the warning makes that migration assumption
            # auditable instead of invisible.
            warnings.warn(
                f"LSH index at {path!r}: paired shash version "
                f"{m['shash_dir']!r} is gone and a flat live directory "
                f"exists — assuming an external layout migration and "
                f"reading the flat table. If anything other than a "
                f"flatten-in-place produced this state, bands and "
                f"shash may come from different builds.",
                UserWarning,
                stacklevel=3,
            )
            return live
        return named
    return current_version_dir(live)


def append_to_lsh_index(docs: DataFrame, path: str) -> None:
    """Append a (deduplicated, kept) batch's rows so future batches
    dedup against it. Parameters come from the stored meta — a batch
    signed under a different permutation family would never collide
    with the existing rows, so there is nothing to pass."""
    m = read_lsh_meta(path)
    bk, sh, pinned = _index_rows(
        docs, m["text_col"], m["id_col"], m["k"], m["num_perm"], m["bands"], m["seed"]
    )
    # materialize the shared shingle pin before _append_rows overlaps
    # the two table writes over it (first-materialization race — see
    # build_lsh_index)
    pinned.count()
    _append_rows(docs.sparkSession, path, bk, sh, signed_under=m)
    pinned.unpersist()


_FAMILY_KEYS = ("k", "num_perm", "bands", "seed")


def _append_rows(
    spark: SparkSession,
    path: str,
    bk: DataFrame,
    sh: DataFrame,
    signed_under: dict | None = None,
) -> None:
    # The lock keeps this append out of any concurrent compaction's
    # snapshot→publish window (it would otherwise be silently dropped
    # with the superseded version directory).
    with writer_lock(path):
        cur = read_lsh_meta(path)
        if signed_under is not None:
            # the batch was signed OUTSIDE the lock; a rebuild landing
            # in between would make these rows a different permutation
            # family than the published bands — fail loudly (caller
            # re-signs and retries) instead of silently never colliding
            if any(cur[k] != signed_under[k] for k in _FAMILY_KEYS):
                raise RuntimeError(
                    f"LSH index at {path!r} was rebuilt with different "
                    f"parameters while this batch was being signed; "
                    f"re-sign and retry the append"
                )
        # Replay-resurrection guard (forget WINS over at-least-once
        # redelivery): an epoch replayed after a forget must not
        # re-append the forgotten docs' rows. The anti-join against
        # the suppression ledger runs UNDER the lock, so even a forget
        # landing between this batch's signing and its append is
        # honored. ONE ledger read filters both frames; no-op (no
        # extra job) while no forget has ever run.
        ledger = read_forget_ledger(spark, path)
        bk = filter_ledgered(bk, path, cur["id_col"], ledger=ledger)
        sh = filter_ledgered(sh, path, cur["id_col"], ledger=ledger)
        # the two appends target independent tables — overlapped
        # (indexio.overlap_jobs); a reader racing either sees a prefix,
        # the standard parquet-append visibility. bands clustered like
        # the build/compact writes: one file per band per batch instead
        # of (batch tasks × bands) splinters; shash appends into the
        # version the CURRENT bands snapshot names (not the live
        # pointer) — the coupling readers resolve
        overlap_jobs(
            lambda: bk.repartition(F.col("band_idx"))
            .write.mode("append")
            .partitionBy("band_idx")
            .parquet(current_version_dir(os.path.join(path, "bands"))),
            lambda: sh.write.mode("append").parquet(_shash_dir(path, cur)),
        )
    _refresh(spark, path)


def ingest_batch(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Query-then-append with the batch signed ONCE — the per-batch
    unit of a continuous-ingest pipeline. ``query_lsh_index`` followed
    by ``append_to_lsh_index`` computes the batch's shingles, minhash
    signatures, and band keys twice (signing text is the dominant
    per-batch cost at scale); this fuses the two around a persisted
    signature pass: sign, query with the signed rows, materialize the
    (bounded) verified pairs, append the SAME signed rows, unpersist.
    Returns the (id_a, id_b, jaccard) pairs as a stable DataFrame
    (already materialized — safe to consume after later mutations).

    Replay idempotence: candidates whose id_b is IN the current batch
    are excluded. On a first delivery that is a no-op (the batch is
    not yet indexed), but on an at-least-once redelivery the failed
    attempt's append has already indexed these rows — without the
    exclusion a batch containing internal near-dups would emit
    within-batch pairs the original epoch never produced. With it, a
    replayed epoch reproduces the original cross-batch-only result.

    Forget composition (the GDPR × replay corner): a batch doc whose
    id is in the suppression ledger — a redelivery of an epoch whose
    docs were forgotten AFTER the original delivery — is dropped
    WHOLESALE before signing, so the redelivered epoch re-indexes and
    reports only the surviving docs. A forget that lands MID-FLIGHT
    (between this signing and the append taking the lock) is honored
    where it matters — `_append_rows` re-filters under the lock, so
    the INDEX can never resurrect — but the already-signed pair
    report reflects the batch as of signing; callers that persist
    pair reports re-scrub them on their own forget cadence like any
    other derived table (`operators/forget.py cascade_delete`).

    Failure contract: the pair collect runs concurrently with the
    append, so a call that raises may already have appended the batch
    to the index. Do not treat the exception as "nothing happened";
    the safe recovery is to call ``ingest_batch`` again with the SAME
    batch. The retry excludes the batch's own ids from its pairs (the
    replay idempotence above), and the duplicate rows fold away at
    compaction."""
    bands_dir, m = snapshot_meta(os.path.join(path, "bands"), META_NAME, path)
    docs = filter_ledgered(docs, path, m["id_col"])
    bk, sh, pinned = _index_rows(
        docs, m["text_col"], m["id_col"], m["k"], m["num_perm"], m["bands"], m["seed"]
    )
    bk = bk.persist()
    sh = sh.persist()
    try:
        pairs = _query_signed(
            spark, bk, sh, path, m, threshold, max_bucket_size,
            bands_dir=bands_dir,
            exclude_ids=docs.select(m["id_col"]),
        )
        # bounded collect: verified near-dup pairs for ONE batch —
        # schema captured from the plan so non-default id types
        # (string doc ids) round-trip instead of failing a literal DDL
        sel = pairs.select("id_a", "id_b", "jaccard")
        out_schema = sel.schema
        # Materialize the signed pin with ONE action before the two
        # halves consume it concurrently (the build/append-verb
        # pattern): bk.count() fills bk AND its parent shingle pin, so
        # neither overlapped job re-runs the signature pass racing the
        # cache's first materialization.
        bk.count()
        # The query's collect and the batch's append are INDEPENDENT
        # job sets — overlap them (guide §2.6; indexio.overlap_jobs):
        # the sequential form left most executors idle through each
        # half's straggler tail, and per-batch latency is the
        # continuous-ingest hot path. Correctness is unchanged by
        # construction: the pair plan above binds its scans to the
        # pre-append snapshot listing, and even a racing listing that
        # glimpses the in-flight append's files is exactly the replay
        # shape the machinery already absorbs — appended rows carry
        # this batch's own ids (dropped by ``exclude_ids``) and
        # duplicate shash rows fold in the verify's dropDuplicates.
        # Failure composition equals the sequential form's crash
        # window: a failed collect beside a committed append is the
        # at-least-once epoch-replay case (re-query excludes own ids,
        # re-append folds at compaction).
        rows, _ = overlap_jobs(
            lambda: sel.collect(),
            lambda: _append_rows(spark, path, bk, sh, signed_under=m),
        )
        return spark.createDataFrame(rows, out_schema)
    finally:
        bk.unpersist()
        sh.unpersist()
        pinned.unpersist()


def _refresh(spark: SparkSession, path: str) -> None:
    """Invalidate the session's cached file listings for the index
    paths. Without this, a query DataFrame created BEFORE an append
    can leave a pre-append listing in the shared FileStatusCache, and
    a query created AFTER the append may silently evaluate against the
    stale snapshot — observed as a deterministic missing pair in the
    two-batch carrier until this refresh was added."""
    for sub in ("bands", "shash"):
        live = os.path.join(path, sub)
        spark.catalog.refreshByPath(live)
        # Readers and appends bind to the RESOLVED version directory
        # (snapshot isolation across a compact) — its listing is the
        # one the cache actually keys.
        spark.catalog.refreshByPath(current_version_dir(live))


def compact_lsh_index(spark: SparkSession, path: str) -> dict:
    """Rewrite the index with appends folded in: drop duplicate rows
    (the at-least-once artifact of a foreachBatch epoch replay — rows
    are idempotent per (band_idx, band_key, doc_id) / (doc_id, shash))
    and bin-pack each band partition to one file. Run on the same
    cadence as any small-file OPTIMIZE. Returns {table: files_before/
    files_after/rows} for observability.

    Holds the index writer lock for the whole rewrite (appends queue
    behind it — none can land in the superseded version and vanish)
    and publishes each table as a new version directory behind one
    atomic pointer flip, so the live path resolves to a complete tree
    at every instant; a crash mid-compact leaves only an orphan
    version dir for the next locked writer's `heal`."""
    out: dict = {}
    with writer_lock(path):
        bands_live = os.path.join(path, "bands")
        sh_live = os.path.join(path, "shash")
        heal(bands_live)
        heal(sh_live)
        m = read_lsh_meta(path)
        # The new bands meta NAMES the new shash version (needs only
        # the target path), so each table's rewrite+count is an
        # independent unit — overlapped from driver threads
        # (indexio.overlap_jobs); publishes stay ordered after both, so
        # the two-table commit semantics are unchanged.
        sh_before = parquet_file_count(sh_live)
        bands_before = parquet_file_count(bands_live)
        sh_target = init_versioned(sh_live)
        bands_target = init_versioned(bands_live)

        def _compact_shash() -> int:
            sh_df = spark.read.parquet(_shash_dir(path, m)).dropDuplicates(
                ["doc_id"]
            )
            sh_df.coalesce(1).write.mode("overwrite").parquet(sh_target)
            return spark.read.parquet(sh_target).count()

        def _compact_bands() -> int:
            bands_src = current_version_dir(bands_live)
            bands_df = spark.read.parquet(bands_src).dropDuplicates(
                ["band_idx", "band_key", "doc_id"]
            )
            # repartition BY the partition column: one task holds each
            # band -> one file per band directory
            bands_df.repartition("band_idx").write.mode("overwrite").partitionBy(
                "band_idx"
            ).parquet(bands_target)
            return spark.read.parquet(bands_target).count()

        sh_rows, bands_rows = overlap_jobs(_compact_shash, _compact_bands)
        # params unchanged by a compact, but every published version
        # must be self-describing (snapshot_meta) — with the pairing
        # re-pointed at the compacted shash version
        write_version_meta(
            bands_target, META_NAME,
            {**{k: v for k, v in m.items() if k != "shash_dir"},
             "shash_dir": os.path.basename(sh_target)},
        )
        publish(sh_live, sh_target)
        publish(bands_live, bands_target)
        out["bands"] = {
            "files_before": bands_before,
            "files_after": parquet_file_count(bands_live),
            "rows": bands_rows,
        }
        out["shash"] = {
            "files_before": sh_before,
            "files_after": parquet_file_count(sh_live),
            "rows": sh_rows,
        }
        # same cadence folds the suppression ledger's per-forget files
        compact_forget_ledger(spark, path)
    _refresh(spark, path)
    return out


def forget_from_lsh_index(
    spark: SparkSession, path: str, forget_ids: DataFrame, erase: bool = False
) -> dict:
    """Right-to-be-forgotten DELETE for the LSH index — the lifecycle
    verb `operators/forget.py:41`'s table cascade was missing for the
    stored-index family: a forgotten document's band rows and
    shingle-hash rows otherwise survive in the version directories and
    keep matching future ingest batches. ``forget_ids`` is a
    one-column DataFrame of doc ids (tiny next to the index — the
    GDPR-request shape), applied as a BROADCAST anti-join to both
    tables; the filtered tables publish as new versions behind the
    usual single atomic pointer flip (shash first, the new bands meta
    NAMES it — the same two-table commit as build/compact, so a reader
    racing the forget sees the complete pre- or post-forget snapshot,
    never a mix). Content-wise the published snapshot equals an index
    FRESHLY BUILT from the corpus minus the forgotten docs: band keys
    and shingle hashes are per-doc functions of the stored permutation
    family, so removing a doc's rows is exactly what rebuilding
    without the doc produces (pinned by tests/test_skew_forget.py and
    the index_forget_audit carrier's oracle). Idempotent: a replayed
    forget removes 0 rows and republishes identical content.
    Replay-duplicate rows of SURVIVING docs pass through untouched —
    folding them stays `compact_lsh_index`'s job; the two verbs
    compose in either order. The forget set is also recorded in the
    index's suppression ledger (`operators/indexio.py
    append_forget_ledger`): an at-least-once STREAMING REPLAY that
    redelivers a pre-forget epoch would otherwise re-append the
    forgotten docs' rows — every append/ingest verb anti-joins its
    batch against the ledger, so FORGET WINS over replay (the pinned
    semantics; ids only, never content).

    ``erase=True`` upgrades live-snapshot deletion to PHYSICAL
    erasure: after the publish, every superseded version directory is
    vacuumed (`indexio.vacuum_versions` — the reference's ``VACUUM ...
    RETAIN 0 HOURS``, `resources/TPC-datagen-notebook.scala:
    2076-2092`), so the pre-forget bytes are GONE from disk, not just
    unpointered. The GDPR trade, documented: erase-grade forget
    forfeits the one-version reader-retention window — a reader whose
    listing predates the forget fails loudly on its next file access
    and retries against the erased snapshot (it can never read a
    partial tree; the pointer flip stays atomic). Returns {table:
    {rows_before, rows_removed, rows_after}}."""
    id_col_alias = "_forget_id"
    with writer_lock(path):
        bands_live = os.path.join(path, "bands")
        sh_live = os.path.join(path, "shash")
        heal(bands_live)
        heal(sh_live)
        m = read_lsh_meta(path)
        ids = F.broadcast(
            forget_ids.select(
                F.col(forget_ids.columns[0]).alias(id_col_alias)
            ).distinct()
        )
        out: dict = {}
        # The new bands meta NAMES the new shash version (single-flip
        # commit for the two-table index, same as build/compact), and
        # naming needs only the target path — so each table's
        # count+anti-join-rewrite+count is an independent unit,
        # overlapped from driver threads (indexio.overlap_jobs).
        # write_snapshot_table handles the forget-everything edge (an
        # empty partitionBy write would publish an unreadable dir).
        # Counts: source counts are parquet-metadata cheap; the kept
        # side is counted from the WRITTEN version (compact's pattern),
        # so the anti-join executes exactly once per table.
        sh_target = init_versioned(sh_live)
        bands_target = init_versioned(bands_live)

        def _forget_shash() -> tuple[int, int]:
            sh_src = spark.read.parquet(_shash_dir(path, m))
            sh_kept = sh_src.join(
                ids, sh_src[m["id_col"]] == ids[id_col_alias], "left_anti"
            )
            before = sh_src.count()
            write_snapshot_table(sh_kept, sh_target, single_file=True)
            return before, spark.read.parquet(sh_target).count()

        def _forget_bands() -> tuple[int, int]:
            bands_src = spark.read.parquet(current_version_dir(bands_live))
            b_kept = bands_src.join(
                ids, bands_src[m["id_col"]] == ids[id_col_alias], "left_anti"
            )
            before = bands_src.count()
            write_snapshot_table(b_kept, bands_target, partition_by="band_idx")
            return before, spark.read.parquet(bands_target).count()

        (sh_before, sh_after), (b_before, b_after) = overlap_jobs(
            _forget_shash, _forget_bands
        )
        write_version_meta(
            bands_target, META_NAME,
            {**{k: v for k, v in m.items() if k != "shash_dir"},
             "shash_dir": os.path.basename(sh_target)},
        )
        # ledger BEFORE the pointer flips (indexio ordering contract):
        # a published forget without a ledger entry would let a
        # replayed epoch silently resurrect; the reverse crash is
        # harmless (ids being deleted, retried forget completes)
        append_forget_ledger(ids, path, m["id_col"])
        publish(sh_live, sh_target)
        publish(bands_live, bands_target)
        if erase:
            vacuum_versions(sh_live)
            vacuum_versions(bands_live)
        out["bands"] = {
            "rows_before": b_before,
            "rows_removed": b_before - b_after,
            "rows_after": b_after,
        }
        out["shash"] = {
            "rows_before": sh_before,
            "rows_removed": sh_before - sh_after,
            "rows_after": sh_after,
        }
    _refresh(spark, path)
    return out


def query_lsh_index(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    threshold: float = 0.5,
    max_bucket_size: int = 200,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Verified near-dup pairs (id_a = batch doc, id_b = indexed doc,
    jaccard) between a new batch and the stored corpus. The corpus
    side is READ, never recomputed: band rows from ``bands/``, verify
    payloads from ``shash/``. Self-pairs are dropped so re-ingesting
    an already-indexed document does not match itself.

    The returned DataFrame is lazy; pass ``caches`` (a list) and the
    batch's shingle pass + signed band keys are PINNED, with both
    frames appended for the CALLER to unpersist once the pairs are
    materialized — SQL-cache entries are not GC'd, so a session
    querying per round (the driver shape) accumulates cache entries
    per call without the release. Without ``caches`` there is no
    release channel, so NOTHING is left pinned: the (batch-bounded)
    sign pass recomputes per consumer instead of leaking one
    unreleasable cache entry per call (loop-style callers should use
    ``ingest_batch``, which pins AND cleans per batch)."""
    bands_dir, m = snapshot_meta(os.path.join(path, "bands"), META_NAME, path)
    bk, batch_sh, pinned = _index_rows(
        batch, m["text_col"], m["id_col"], m["k"], m["num_perm"], m["bands"], m["seed"]
    )
    if caches is not None:
        # pin the signed band keys too: _query_signed consumes them
        # twice (the candidate-bucket key broadcast AND the pair join)
        # — without the pin the signature UDF runs twice per query.
        bk = bk.persist()
        caches.append(pinned)
        caches.append(bk)
    else:
        pinned.unpersist()
    return _query_signed(
        spark, bk, batch_sh, path, m, threshold, max_bucket_size,
        bands_dir=bands_dir,
    )


def _query_signed(
    spark: SparkSession,
    bk: DataFrame,
    batch_sh: DataFrame,
    path: str,
    m: dict,
    threshold: float,
    max_bucket_size: int,
    bands_dir: str | None = None,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Query body over a batch's precomputed (band rows, shash rows) —
    shared by query_lsh_index (signs per call) and ingest_batch (signs
    once for query AND append). ``bands_dir`` is the version directory
    the caller's meta snapshot resolved to (params and band tables are
    co-published — indexio.snapshot_meta); ``exclude_ids`` drops
    candidates whose id_b is in the given id set (ingest_batch's
    replay-idempotence guard)."""
    id_col = m["id_col"]
    # Bind the scan to the RESOLVED version directory: the snapshot
    # stays complete across one subsequent compact (indexio retention),
    # so a query planned pre-compact evaluates correctly post-compact.
    if bands_dir is None:
        bands_dir = current_version_dir(os.path.join(path, "bands"))
    idx_bands = spark.read.parquet(bands_dir)
    # Candidate-bucket pruning BEFORE the sizing window: the batch's
    # (band_idx, band_key) set is batch-bounded (|batch| × bands keys)
    # — broadcast it and left-semi-join the index bands first, so the
    # bucket-size window below shuffles only the buckets this batch
    # can touch instead of the ENTIRE bands table per query (guide
    # §2.3: at 100 TB the window otherwise re-shuffles the index per
    # ingest batch; buckets the batch never probes can't produce pairs,
    # and the semi-join keeps every row OF a touched bucket, so the
    # per-bucket counts — and therefore the boilerplate filter — are
    # unchanged). Callers persist ``bk`` (ingest_batch pins it;
    # query_lsh_index pins + exports via ``caches``), so the key
    # broadcast reads the pin rather than re-running the sign pass.
    # no distinct: the semi-join ignores duplicate probe keys, and the
    # frame is |batch|×bands rows of two longs — smaller than the
    # dedup shuffle (one AQE job per query) the distinct used to cost
    batch_keys = bk.select("band_idx", "band_key")
    idx_cand = idx_bands.join(
        F.broadcast(batch_keys), ["band_idx", "band_key"], "left_semi"
    )
    # Boilerplate guard, same policy as the inline bipartite path: an
    # index bucket bigger than max_bucket_size is near-identical
    # boilerplate and belongs to exact dedup, not an LSH fan-out.
    # Sized via partial-aggregated counts + a broadcast semi-join back,
    # NOT a count-over-window: the window form shuffled every candidate
    # row by bucket key before counting — the one index-side exchange
    # left in the query path, and the skew-prone one (a boilerplate
    # bucket's rows all funnel through one task exactly so they can be
    # thrown away, guide §2.5). The groupBy count ships only per-bucket
    # partial counts (map-side aggregation), its qualifying-key frame
    # is batch-bounded (≤ touched buckets ≤ |batch| × bands) so it
    # broadcasts, and oversized buckets now die AT THE SCAN — zero
    # candidate rows ever cross an exchange. Per-bucket counts are
    # computed over the same idx_cand either way, so the filter —
    # and every result — is unchanged.
    sized_keys = (
        idx_cand.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_bucket_size)
        .select("band_idx", "band_key")
    )
    idx_sized = idx_cand.join(
        F.broadcast(sized_keys), ["band_idx", "band_key"], "left_semi"
    )
    pairs = (
        bk.withColumnRenamed(id_col, "id_a")
        .join(idx_sized.withColumnRenamed(id_col, "id_b"), ["band_idx", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if exclude_ids is not None:
        # left-anti against the (bounded) batch id set BEFORE the
        # verify join — an at-least-once replay finds the batch's own
        # rows already indexed; dropping them here reproduces the
        # original epoch's cross-batch-only pairs
        # no distinct: left-anti ignores duplicate build keys, and the
        # id set is batch-bounded — the dedup shuffle was pure cost
        pairs = pairs.join(
            F.broadcast(exclude_ids.select(F.col(id_col).alias("id_b"))),
            "id_b",
            "left_anti",
        )
    # the shash version PAIRED with this bands snapshot (named by its
    # meta — one pointer flip covers both tables; legacy metas fall
    # back to the live pointer)
    idx_sh = spark.read.parquet(_shash_dir(path, m))
    # Duplicate-tolerant: an at-least-once append replay leaves
    # duplicate shash rows until compact_lsh_index runs; the verify
    # join would then emit the SAME pair once per copy. jaccard is a
    # pure function of the pair, so distinct over the verified output
    # (near-dup pairs — tiny next to the corpus) restores exactly-once
    # results without shuffling the index.
    return verify_pairs_exact_jaccard_hashed(
        pairs, batch_sh, idx_sh, id_col, threshold
    ).dropDuplicates(["id_a", "id_b"])


def rebuild_lsh_index(
    spark: SparkSession,
    path: str,
    num_perm: int | None = None,
    bands: int | None = None,
    seed: int | None = None,
) -> dict:
    """Re-band the index from its OWN stored shingle hashes — no
    document text needed (``shash`` holds exactly the xxhash64'd
    shingles the signature min-fold consumes, so recomputed signatures
    are bit-identical to signing the original text). The maintenance
    move when the dedup threshold changes: bands/num_perm tune the LSH
    S-curve, and this re-bands the whole corpus in one pass instead of
    re-ingesting it. Runs under the writer lock; publishes bands (new
    parameters) and shash (replay-duplicates folded) plus the updated
    meta behind the atomic pointer flip — a query planned pre-rebuild
    completes on the retained snapshot. Returns the new meta."""
    from lakehouse_dba_tools_spark.dedup.minhash import _signature_udf

    with writer_lock(path):
        # read params under the lock: no concurrent rebuild can swap
        # them between read and write
        m = read_lsh_meta(path)
        n_perm = num_perm or m["num_perm"]
        n_bands = bands or m["bands"]
        sd = seed if seed is not None else m["seed"]
        id_col = m["id_col"]
        sh_live = os.path.join(path, "shash")
        bands_live = os.path.join(path, "bands")
        heal(sh_live)
        heal(bands_live)
        stored = (
            spark.read.parquet(_shash_dir(path, m))
            .dropDuplicates([id_col])
        )
        signed = stored.withColumn(
            "signature", _signature_udf(n_perm, sd)(F.col("shash"))
        )
        bk = band_keys(signed, id_col, n_bands, n_perm // n_bands)
        # shash first so the new bands meta can name it (single-flip
        # commit, same as build/compact)
        sh_target = init_versioned(sh_live)
        stored.coalesce(1).write.mode("overwrite").parquet(sh_target)
        meta = {**m, "num_perm": n_perm, "bands": n_bands, "seed": sd,
                "shash_dir": os.path.basename(sh_target)}
        bands_target = init_versioned(bands_live)
        bk.repartition("band_idx").write.mode("overwrite").partitionBy(
            "band_idx"
        ).parquet(bands_target)
        # the NEW parameters ride inside the new bands version: the
        # pointer flip below publishes re-banded tables + params +
        # the named shash version atomically, so no reader can pair
        # them with the old num_perm/bands (the silent-zero-matches
        # hazard) or a different build's shash
        write_version_meta(bands_target, META_NAME, meta)
        publish(sh_live, sh_target)
        publish(bands_live, bands_target)
        # root copy is informational only; readers use snapshot_meta
        with open(os.path.join(path, META_NAME), "w") as fh:
            json.dump(meta, fh)
    _refresh(spark, path)
    return meta

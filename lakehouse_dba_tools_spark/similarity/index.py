"""Persisted IVF-Flat index: continuous-ingestion ANN search.

`ivf_topk_curve` (search.py) trains the coarse quantizer and assigns
the whole corpus on every call. At 100 TB both steps happen ONCE: the
centroids and the inverted lists are stored, each ingest batch is
assigned with the STORED centroids and appended to its lists, and a
query reads only the lists it probes. This module is that lifecycle —
the vector twin of dedup/index.py's LSH index.

On-disk layout under ``path``:

- ``lists/``  (cid, neighbor_id, vec array<double> L2-normalized),
  partitioned by ``cid`` — the inverted lists. Partitioning makes
  nprobe a PARTITION-PRUNED scan: a query batch probing p of C lists
  reads p/C of the index bytes (`query_ivf_index` pushes the probed
  cid set into the parquet read).
- ``lists/<ver>/_ivf_meta.json``  {n_centroids, seed, id_col, vec_col,
  centroids, cids, schemas, rows, dup_free} — the trained quantizer
  itself rides in the sidecar (C × dim doubles: KBs, driver-sized by
  construction since training already samples to the driver), inside
  the lists version directory. ``cids`` is the manifest of non-empty
  lists. ``schemas`` holds the lists schema as its readers see it
  (``StructType.jsonValue()``, ``cid`` last): every verb reads the
  lists with it (``indexio.read_table``), so no read starts a
  schema-inference job. An index whose meta lacks these keys is
  rejected and must be rebuilt (the one on-disk format, see
  ``operators/indexio.py``).

Append semantics match FAISS/production IVF: centroids stay FIXED
after build (assignments are a pure function of the stored quantizer,
so appended vectors land in the same list a rebuild would put them
in); re-train + rebuild on drift is a separate maintenance decision.
`compact_ivf_index` is the OPTIMIZE analog for the small files
appends create, and it folds replayed appends (at-least-once
foreachBatch) keyed on (cid, neighbor_id); queries dedup the same key
on the probed slice, so answers are identical before and after
compaction. Writer semantics (operators/indexio.py, shared with the
LSH and BM25 indexes): build/append/compact hold an exclusive flock
on the index root, and the lists table's live path is a symlink to a
versioned directory published by one atomic pointer flip — an append
can never vanish inside a compaction's swap window, and a crash
mid-compact leaves the index readable. The lists table is declared
once as ``IVF_TABLES``, and build, compact, forget and rebuild write it
through indexio's shared versioned-table layer. Replay-tolerant, NOT
update-tolerant: re-appending an id whose vector CHANGED is caller
error (dedup keeps an arbitrary variant).

Reference parity note: the reference repo has no ANN surface — this
extends the training-data-pipeline tier the build brief makes
first-class (similarity search at continuous-ingest scale).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.indexio import (
    IndexTables,
    Layout,
    append_tables,
    compact_tables,
    filter_ledgered,
    forget_rows,
    heal_tables,
    open_snapshot,
    pinned_for_write,
    pinned_forget_ids,
    read_forget_ledger,
    read_table,
    write_versions,
    writer_lock,
)
from lakehouse_dba_tools_spark.operators.partitioning import fan_out
from lakehouse_dba_tools_spark.similarity.kernels import (
    nearest_centroids_udf,
    pair_dot,
)
from lakehouse_dba_tools_spark.similarity.search import _topk_by_sim, train_centroids
from lakehouse_dba_tools_spark.similarity.vector import as_double, l2_normalize

META_NAME = "_ivf_meta.json"


def _assigned_rows(
    vectors: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(cid, neighbor_id, vec) list rows for a vector set — build and
    append both route here so list contents cannot depend on which
    phase wrote them."""
    assign1 = nearest_centroids_udf(centroids, 1)
    return (
        fan_out(vectors)
        .select(
            F.col(id_col).alias("neighbor_id"),
            l2_normalize(as_double(vec_col)).alias("vec"),
        )
        .withColumn("cid", assign1(F.col("vec"))[0])
    )


def _list_cids(version_dir: str) -> list[int]:
    """The cid MANIFEST: one writer-side directory listing per mutation
    (build/append/compact/rebuild, all under the lock) recorded in the
    version meta, so queries consult the manifest instead of probing
    the filesystem per probed list — zero reader-side listing/stat
    calls at any nlist (the object-store story: a query never lists
    the lists root)."""
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(version_dir)
        if d.startswith("cid=")
    )


IVF_TABLES = IndexTables(
    primary="lists",
    meta_name=META_NAME,
    # clustered by list before the partitioned write (the Iceberg
    # write.distribution-mode=hash analog): an unclustered partitionBy
    # write emits one file per (input task × cid) — measured 225 files
    # for 447 KiB at gate SF — and every probe/forget/residual read
    # pays the per-file open cost
    layouts={"lists": Layout(partition_by="cid")},
    # a replay re-assigns with the same stored centroids, so duplicate
    # rows are identical per (cid, neighbor_id)
    dedup_keys=lambda _: {"lists": ["cid", "neighbor_id"]},
    row_id="neighbor_id",
    manifest=lambda vd: {"cids": _list_cids(vd)},
)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train the coarse quantizer, assign the corpus, materialize the
    inverted lists. Overwrites ``path``. Returns the meta dict."""
    cents = train_centroids(
        corpus, n_centroids, vec_col, seed=seed, id_col=id_col
    )
    rows = _assigned_rows(corpus, np.asarray(cents), id_col, vec_col)
    meta = {
        "n_centroids": n_centroids,
        "seed": seed,
        "id_col": id_col,
        "vec_col": vec_col,
        "centroids": cents,
    }
    spark = corpus.sparkSession
    with writer_lock(path):
        heal_tables(path, IVF_TABLES)
        # backfill-resurrection guard, under the lock: a full rebuild
        # fed a pre-erasure corpus snapshot must not re-index
        # forgotten vectors (operators/indexio.py append_forget_ledger)
        rows = filter_ledgered(
            rows, "neighbor_id", ledger=read_forget_ledger(spark, path)
        )
        # the quantizer + cid manifest ride INSIDE the lists version
        # directory: the pointer flip publishes lists + centroids +
        # manifest in one atomic step, so a reader can never probe new
        # lists with old centroids
        meta, _ = write_versions(spark, path, IVF_TABLES, {"lists": rows}, meta)
    return meta


def read_ivf_meta(path: str) -> dict:
    """Quantizer + params of the CURRENT published snapshot (resolved
    through the lists pointer — atomically coupled with the lists)."""
    return open_snapshot(path, IVF_TABLES).meta


def append_to_ivf_index(vectors: DataFrame, path: str) -> None:
    """Assign a new batch with the STORED centroids and append to the
    lists — identical placement to what a rebuild would choose."""
    m = read_ivf_meta(path)
    rows = _assigned_rows(
        vectors, np.asarray(m["centroids"]), m["id_col"], m["vec_col"]
    )
    # The lock keeps this append out of any concurrent compaction's
    # snapshot→publish window (it would otherwise be silently dropped
    # with the superseded version directory).
    spark = vectors.sparkSession
    with writer_lock(path):
        snap = open_snapshot(path, IVF_TABLES)
        # the batch was assigned OUTSIDE the lock; a rebuild landing in
        # between re-trained the quantizer, and these assignments would
        # land in the wrong lists — fail loudly (caller re-assigns)
        if snap.meta["centroids"] != m["centroids"]:
            raise RuntimeError(
                f"IVF index at {path!r} was rebuilt while this batch was "
                f"being assigned; re-assign and retry the append"
            )
        # replay-resurrection guard: a redelivered epoch whose vectors
        # were forgotten since must not re-index them (forget wins —
        # operators/indexio.py append_forget_ledger); no-op without a
        # ledger. The append then refreshes the cid manifest in place:
        # the batch may have populated previously-empty lists, and a
        # reader racing it sees either manifest — the standard
        # parquet-append prefix visibility, now including the manifest.
        append_tables(spark, path, IVF_TABLES, snap, {
            "lists": filter_ledgered(
                rows, "neighbor_id", ledger=read_forget_ledger(spark, path)
            )
        })


def compact_ivf_index(spark: SparkSession, path: str) -> dict:
    """OPTIMIZE analog for the inverted lists: fold replayed-append
    duplicates keyed (cid, neighbor_id) — safe because a replay
    re-assigns with the same stored centroids, so duplicate rows are
    identical — and bin-pack each cid partition to one file.
    Publishes the lists as a new version behind one atomic pointer
    flip under the index writer lock (appends queue behind it).
    Returns {files_before, files_after, rows}."""
    with writer_lock(path):
        return compact_tables(spark, path, IVF_TABLES)["lists"]


def forget_from_ivf_index(
    spark: SparkSession, path: str, forget_ids: DataFrame, erase: bool = False
) -> dict:
    """Right-to-be-forgotten DELETE for the IVF index — extends
    `operators/forget.py:41`'s table cascade into the stored vector
    index: a forgotten document's (cid, neighbor_id, vec) rows
    otherwise survive the version directories and keep surfacing as
    neighbors. ``forget_ids`` is a one-column DataFrame of ids (tiny —
    the GDPR-request shape), applied as a BROADCAST anti-join; the
    filtered lists publish as a new version with a refreshed cid
    manifest behind the single atomic pointer flip. The coarse
    quantizer stays FIXED — the same contract as appends (assignments
    are a pure function of the stored centroids), so the published
    lists are row-identical to assigning the surviving corpus under
    the stored quantizer; re-training because the distribution moved
    is `rebuild_ivf_index`'s job, and full-probe answers are quantizer-
    invariant anyway (what the index_forget_audit oracle checks).
    Idempotent: a replayed forget removes 0 rows and republishes
    identical content.

    The forget set is also recorded in the index's suppression ledger
    (ids only — `operators/indexio.py append_forget_ledger`), so an
    at-least-once replay of a pre-forget epoch cannot re-append the
    forgotten vectors: forget WINS over replay (`append_to_ivf_index`
    anti-joins against the ledger under the lock).

    ``erase=True`` upgrades to PHYSICAL erasure: the superseded lists
    version (the complete pre-forget snapshot indexio retains for
    in-flight readers) is vacuumed after the publish — the reference's
    ``VACUUM ... RETAIN 0 HOURS`` (`resources/TPC-datagen-notebook.
    scala:2076-2092`). Documented GDPR trade: a reader whose listing
    predates the forget fails loudly and retries instead of finishing
    against retained bytes. Returns {rows_before, rows_removed,
    rows_after}. The caller's ``forget_ids`` lineage runs once — its
    distinct id set is pinned for the call and released before
    returning."""
    with pinned_forget_ids(forget_ids) as ids, writer_lock(path):
        return forget_rows(spark, path, IVF_TABLES, ids, erase=erase)["lists"]


def query_ivf_index(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k over the stored lists. The probed cid set (bounded by
    n_centroids — a handful of ints) is collected driver-side and the
    scan is handed ONLY the probed cid directories (``basePath`` keeps
    cid as a partition column), so file listing AND planning cost is
    ∝ nprobe, not n_centroids — reading the whole lists root and
    pruning with a partition filter scans the same bytes but pays a
    directory listing over every list, which was the measured 1.46×
    planning residual at a 10× corpus (SCALE.md round 8). Scoring and
    top-k stay distributed. Replayed-append duplicates fold after
    scoring (see below), so answers match the post-compaction index.

    ``exclude_ids`` (single-column DataFrame of neighbor ids) drops
    those ids before top-k — the continuous-ingest replay guard: a
    redelivered batch is already in the index, and excluding the
    batch's own ids reproduces the original epoch's result instead of
    returning same-batch neighbors."""
    # Resolve the snapshot ONCE: centroids and the lists directory are
    # co-published (indexio.open_snapshot), so the probe assignments
    # below always match the exact lists tree being scanned — a rebuild
    # racing this query flips both or neither. Retention keeps this
    # snapshot complete across one subsequent compact/rebuild.
    snap = open_snapshot(path, IVF_TABLES)
    m = snap.meta
    cents = np.asarray(m["centroids"])
    assignN = nearest_centroids_udf(cents, nprobe)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        l2_normalize(as_double(m["vec_col"])).alias("_qv"),
    ).withColumn("cid", F.explode(assignN(F.col("_qv"))))
    # Bounded collect: distinct probed list ids, ≤ n_centroids values.
    probed = sorted(r[0] for r in q.select("cid").distinct().collect())
    # The cid MANIFEST rides in the version meta (refreshed by every
    # locked writer), so the reader does zero filesystem listing/stat
    # calls at any nlist; empty lists (a centroid that owns no vectors
    # yet) are simply absent from it.
    present = set(m["cids"])
    probe_parts = [f"cid={c}" for c in probed if c in present]
    if not probe_parts:
        # every probed list is empty — correctness fallback, never the
        # hot path (a trained quantizer's probed lists hold vectors)
        lists = read_table(spark, snap, "lists").where(F.lit(False))
    else:
        # the isin filter is a no-op over the targeted directories but
        # keeps the probe set visible in the plan as PartitionFilters
        # (the pruning contract the tests pin)
        lists = read_table(spark, snap, "lists", parts=probe_parts).where(
            F.col("cid").isin(probed)
        )
    scored = lists.join(q, "cid").select(
        "query_id", "neighbor_id", F.round(pair_dot("vec", "_qv"), 9).alias("sim")
    )
    if exclude_ids is not None:
        ex = exclude_ids.select(
            F.col(exclude_ids.columns[0]).alias("neighbor_id")
        ).distinct()
        scored = scored.join(F.broadcast(ex), "neighbor_id", "left_anti")
    # Replayed-append duplicates fold AFTER scoring — a replay
    # re-assigns with the same stored centroids, so dup rows score
    # identically, and the dedup exchange carries 3 scalars per row
    # (never the vectors); dropping them keeps duplicates from eating
    # top-k slots, so answers match the post-compaction index.
    return _topk_by_sim(scored.dropDuplicates(["query_id", "neighbor_id"]), k)


def ivf_drift_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-list quantizer health: (cid, n_vectors, avg_sim) where
    avg_sim is the mean cosine of each stored vector to ITS centroid
    (vectors are stored L2-normalized; the centroid is normalized
    here). Appends assign with the FROZEN quantizer, so as ingested
    data drifts away from the training distribution avg_sim falls and
    lists skew — the signal that it is time for `rebuild_ivf_index`.
    One scan of the lists; the centroid table is a broadcast-sized
    literal frame (C × dim doubles from the meta sidecar)."""
    import math

    # snapshot resolve: centroids always describe the exact lists tree
    # being scanned (co-published behind one pointer flip)
    snap = open_snapshot(path, IVF_TABLES)
    cents = []
    for cid, c in enumerate(snap.meta["centroids"]):
        norm = math.sqrt(sum(x * x for x in c)) or 1.0
        cents.append((cid, [x / norm for x in c]))
    cdf = spark.createDataFrame(cents, "cid int, _cent array<double>")
    lists = read_table(spark, snap, "lists")
    return (
        lists.join(F.broadcast(cdf), "cid")
        .select("cid", pair_dot("vec", "_cent").alias("_sim"))
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("_sim"), 6).alias("avg_sim"),
        )
        .orderBy("cid")
    )


def rebuild_ivf_index(
    spark: SparkSession,
    path: str,
    n_centroids: int | None = None,
    seed: int | None = None,
) -> dict:
    """Re-train the coarse quantizer on the CURRENT index contents and
    re-assign every stored vector — the drift response (FAISS's
    retrain-and-rebuild). No original corpus needed: the lists already
    hold (neighbor_id, vec). Runs under the writer lock and publishes
    lists + meta behind the atomic pointer flip, exactly like compact —
    a query planned pre-rebuild completes on the retained snapshot.
    Full-probe (nprobe = n_centroids) answers are invariant under
    rebuild (every list is scanned either way); partial-probe recall is
    what improves. The meta's ``rows`` and ``dup_free`` describe the
    rebuilt lists, as after a build. Returns the new meta."""
    with writer_lock(path):
        heal_tables(path, IVF_TABLES)
        # resolve params and lists under the lock: no concurrent
        # rebuild can swap them between read and write
        snap = open_snapshot(path, IVF_TABLES)
        m = snap.meta
        n_c = n_centroids or m["n_centroids"]
        sd = seed if seed is not None else m["seed"]
        # pin the deduped stored vectors: both the quantizer training
        # sample and the re-assignment write consume them — without the
        # pin the dropDuplicates shuffle + scan runs twice per rebuild
        # (indexio.pinned_for_write)
        with pinned_for_write(
            read_table(spark, snap, "lists")
            .dropDuplicates(["cid", "neighbor_id"])
            .select(F.col("neighbor_id").alias(m["id_col"]),
                    F.col("vec").alias(m["vec_col"]))
        ) as stored:
            cents = train_centroids(
                stored, n_c, m["vec_col"], seed=sd, id_col=m["id_col"]
            )
            rows = _assigned_rows(
                stored, np.asarray(cents), m["id_col"], m["vec_col"]
            )
            # the NEW quantizer and cid manifest ride inside the new
            # lists version: the pointer flip publishes re-assigned
            # lists + centroids atomically — a query planning during the
            # rebuild window can never probe the new lists with the old
            # centroids (or vice versa)
            meta, _ = write_versions(
                spark, path, IVF_TABLES, {"lists": rows},
                {**m, "n_centroids": n_c, "seed": sd, "centroids": cents},
            )
    return meta

"""Shared filesystem primitives for the persisted-index family.

The three stored indexes (dedup/index.py LSH, similarity/index.py IVF,
similarity/bm25.py postings) all face the same two hazards on plain
parquet (no transaction-log jars — the repo-wide documented boundary):

1. **Writer races.** An append landing while a compaction is swapping
   directories would be silently deleted with the pre-compact tree.
   Fix: every mutating operation (build / append / compact) holds an
   exclusive ``flock`` on ``<index>/_INDEX_LOCK`` — the same
   single-writer serialization ``datagen/export.py`` uses for the gate
   warehouse. Readers take no lock (see below: they can always see a
   complete tree).

2. **Crash mid-swap.** A naive ``rename(live, old); rename(staging,
   live)`` has a window where the live path does not exist at all — a
   crash there strands the index unreadable. Fix: the live path of
   each index table is a **symlink** to a versioned directory
   (``bands -> bands.v0``). Compaction writes the next full version
   (``bands.v1``) beside it and publishes with ONE atomic
   ``os.replace`` of the symlink. Readers therefore always resolve to
   a complete version — before, during, and after a compact — and a
   crash at any instant leaves at worst an orphan version directory,
   which the next locked writer removes (``heal``). This is the
   poor-man's analog of a table-format version pointer (Delta's
   ``_last_checkpoint`` / Iceberg's ``version-hint.text``), scoped to
   single-host semantics exactly like the rest of the no-jars
   boundary.

3. **Readers racing a compact.** The newest superseded version is
   RETAINED after a publish (the tombstone-retention analog): a
   reader whose cached file listing predates one compact finishes its
   scan against the complete snapshot it planned on — and because
   every index query is duplicate-tolerant, that pre-compact answer
   equals the post-compact one. Only a reader ≥2 compactions stale
   (or racing ``vacuum_versions``) fails loudly and retries; nothing
   ever silently reads a partial tree.

Appends write *through* the symlink into the current version
directory: parquet appends are additive (new files only), so readers
racing an append see a prefix of it — the standard parquet-append
visibility semantics, unchanged by the versioning.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import socket
from contextlib import contextmanager

LOCK_NAME = "_INDEX_LOCK"
HOST_NAME = "_INDEX_HOST"
LEDGER_DIR = "_forget_ledger"
_VER_RE = re.compile(r"\.v(\d+)$")


def _check_host(path: str) -> None:
    """Single-host boundary guard (the no-jars analog of Delta's
    multi-cluster write story): ``flock`` serializes writers only
    within ONE host's kernel — over NFS it is advisory at best, and
    symlink ``os.replace`` atomicity is a local-filesystem guarantee.
    The first writer records its hostname in ``_INDEX_HOST``; a writer
    on a DIFFERENT host then fails fast and loud instead of silently
    corrupting the index. A moved index (old host decommissioned) is
    re-claimed by deleting the host file — a deliberate operator
    action, which is the point."""
    marker = os.path.join(path, HOST_NAME)
    me = socket.gethostname()
    if os.path.exists(marker):
        with open(marker) as fh:
            owner = fh.read().strip()
        if owner != me:
            raise RuntimeError(
                f"index at {path!r} is owned by host {owner!r}; writers on "
                f"{me!r} are not safe (flock and symlink-publish atomicity "
                f"are single-host guarantees — see operators/indexio.py). "
                f"If {owner!r} is decommissioned, delete {marker} to "
                f"re-claim the index."
            )
    else:
        with open(marker, "w") as fh:
            fh.write(me)


@contextmanager
def writer_lock(path: str):
    """Exclusive single-writer lock for one index root. Blocks until
    any in-flight build/append/compact on the same root finishes.
    A writer whose process dies releases the flock automatically (the
    kernel drops it with the fd), so same-host stale writers cannot
    wedge the index; cross-host writers are rejected by the
    ``_INDEX_HOST`` ownership guard (single-host boundary)."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, LOCK_NAME), "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            _check_host(path)
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def current_version_dir(live: str) -> str:
    """Resolve the live symlink to its version directory (absolute)."""
    return os.path.realpath(live)


def next_version_dir(live: str) -> str:
    """Path for the next version directory beside ``live``."""
    if os.path.islink(live):
        cur = os.path.basename(os.readlink(live))
        m = _VER_RE.search(cur)
        n = int(m.group(1)) + 1 if m else 0
    else:
        n = 0
    return f"{live}.v{n}"


def publish(live: str, version_dir: str, retain: int = 1) -> None:
    """Atomically point ``live`` at ``version_dir`` (a sibling). The
    pointer flip is one ``os.replace`` of a symlink — readers see the
    old complete tree or the new complete tree, never an absent path.

    Retention (the poor-man's Delta tombstone window): the newest
    ``retain`` superseded versions are KEPT so a reader whose file
    listing predates this publish finishes its scan against the
    complete snapshot it planned on; older superseded versions and
    never-published crash debris are reclaimed. ``vacuum_versions``
    reclaims the retained snapshots eagerly."""
    tmp = live + "._ptr"
    if os.path.islink(tmp) or os.path.exists(tmp):
        os.remove(tmp)
    os.symlink(os.path.basename(version_dir), tmp)
    os.replace(tmp, live)
    _reclaim(live, retain)


def init_versioned(live: str) -> str:
    """Fresh-build helper: return the version dir a build should write
    (``<live>.v0``, or N+1 when rebuilding over an existing index),
    clearing any stale same-named directory. Caller writes it fully,
    then calls ``publish``."""
    target = next_version_dir(live)
    shutil.rmtree(target, ignore_errors=True)
    return target


def parquet_file_count(root: str) -> int:
    """Observability helper for compaction stats (follows the live
    symlink into the current version directory)."""
    return sum(
        1
        for _, _, files in os.walk(root, followlinks=True)
        for f in files
        if f.endswith(".parquet")
    )


def heal(live: str, retain: int = 1) -> None:
    """Remove crash debris around one live table: never-published
    version directories (numbered above the pointer — a crash between
    write and publish strands one) and a stale pointer temp, keeping
    the newest ``retain`` superseded published snapshots for in-flight
    readers. Call under ``writer_lock`` before mutating. A reader
    never needs this — the pointer always resolves to a complete
    version."""
    tmp = live + "._ptr"
    if os.path.islink(tmp) or os.path.exists(tmp):
        os.remove(tmp)
    if os.path.isdir(live) and not os.path.islink(live):
        # Legacy flat layout (a table written before versioning, or by
        # an external tool): publish() cannot os.replace a symlink over
        # a non-empty real directory, so migrate it under the writer
        # lock — rename the directory to <live>.v0 and point a fresh
        # symlink at it. Builds/compactions over legacy indexes then
        # proceed normally (the next version is .v1).
        target = live + ".v0"
        # a same-named .v0 here was never published (no pointer exists
        # to it) — crash debris, safe to clear
        shutil.rmtree(target, ignore_errors=True)
        os.rename(live, target)
        os.symlink(os.path.basename(target), tmp)
        os.replace(tmp, live)
    elif not os.path.islink(live) and not os.path.exists(live):
        # Dangling-migration recovery: a crash BETWEEN the rename above
        # and its pointer publish leaves the table's only copy as an
        # unpointered version dir with no live path at all. Without
        # this re-point, _reclaim (cur_n=None) would treat every
        # version dir as never-published debris and delete the legacy
        # table permanently. Re-point at the NEWEST version sibling —
        # for the migration crash that is the renamed .v0 itself; for a
        # crashed-before-first-publish fresh build it may resurrect a
        # possibly-partial .v0, which the imminent build overwrites
        # (init_versioned) — resurrecting is recoverable, deleting the
        # only copy is not.
        newest = _newest_version(live)
        if newest is not None:
            os.symlink(os.path.basename(newest), tmp)
            os.replace(tmp, live)
    _reclaim(live, retain)


def vacuum_versions(live: str) -> None:
    """The VACUUM analog: eagerly reclaim ALL superseded snapshots
    (readers more than zero compactions stale then fail loudly on
    their next file access instead of finishing). Call under
    ``writer_lock``. The reference's exact analog is ``VACUUM ...
    RETAIN 0 HOURS`` (`resources/TPC-datagen-notebook.scala:
    2076-2092`) — the erase-grade forget verbs run this so
    "forgotten" means BYTES GONE, not just absent from the live
    snapshot."""
    _reclaim(live, 0)


def all_version_dirs(live: str) -> list[str]:
    """Every on-disk version directory of one live table — current,
    retained-superseded, and crash debris alike, sorted by version
    number. This is the ERASURE AUDIT surface: a right-to-be-forgotten
    residual scan that reads only ``current_version_dir`` proves
    live-snapshot erasure, while the retained superseded version still
    holds the complete pre-forget bytes; scanning every directory this
    returns (after an ``erase=True`` forget it is exactly the current
    one) is what proves on-disk erasure."""
    parent, base = os.path.dirname(live) or ".", os.path.basename(live)
    out: list[tuple[int, str]] = []
    for name in os.listdir(parent) if os.path.isdir(parent) else ():
        m = _VER_RE.search(name)
        full = os.path.join(parent, name)
        if name.startswith(base + ".v") and m and os.path.isdir(full):
            out.append((int(m.group(1)), full))
    return [p for _, p in sorted(out)]


def append_forget_ledger(ids, path: str, id_col: str) -> None:
    """Record a forget set in the index root's suppression ledger —
    the piece that makes forget durable against AT-LEAST-ONCE REPLAY:
    a streaming epoch redelivered after a forget would otherwise
    re-append the forgotten docs' rows, silently resurrecting them.
    Every append/ingest verb anti-joins its batch against this ledger
    (forget WINS over replay — the pinned semantics), so a raced
    redelivery re-indexes only the surviving rows.

    The ledger stores ONLY the opaque ids, nothing derived from the
    content — the minimal suppression-list record that keeps an
    erasure effective (standard GDPR practice: without it, any replay
    or backfill un-erases). ``erase=True`` forgets therefore do NOT
    vacuum it. Suppression is deliberately PERMANENT until an explicit
    operator action: re-publishing content under a forgotten (or
    recycled) id requires ``remove_from_forget_ledger`` first — the
    conservative default for an erasure ledger, where silently
    honoring a re-appearing id is the dangerous direction. Caller
    holds the writer lock; the write appends one new parquet file, so
    a ledger reader under a later lock always sees complete files.

    ORDERING contract for the forget verbs: the ledger append runs
    BEFORE the filtered version's pointer flip. A crash between the
    two leaves a ledger entry whose forget never published — harmless
    (the ids were being deleted; the retried forget completes it) —
    whereas the reverse order would leave a PUBLISHED forget with no
    replay protection: a redelivered pre-forget epoch would silently
    resurrect the docs."""
    from pyspark.sql import functions as F

    target = os.path.join(path, LEDGER_DIR)
    ids.select(F.col(ids.columns[0]).alias(id_col)).distinct().coalesce(
        1
    ).write.mode("append").parquet(target)


def read_forget_ledger(spark, path: str):
    """The index's suppression ledger as a one-column DataFrame, or
    None when no forget has ever run (the common case — append paths
    skip the anti-join entirely). A ledger DIRECTORY with no committed
    parquet file (a write that died after mkdir but before commit —
    only ``_temporary`` debris inside) also reads as None instead of
    failing schema inference, so crash debris can never wedge every
    subsequent verb on the index; the interrupted forget never
    published, so there is nothing the debris was suppressing. The
    cached file listing is invalidated before reading: a batch that
    read the ledger BEFORE a forget appended to it would otherwise
    anti-join against the stale listing and silently resurrect the
    newly-forgotten docs — the same shared FileStatusCache hazard
    dedup/index.py `_refresh` documents."""
    target = os.path.join(path, LEDGER_DIR)
    if not os.path.isdir(target) or not any(
        f.endswith(".parquet") for f in os.listdir(target)
    ):
        return None
    spark.catalog.refreshByPath(target)
    return spark.read.parquet(target)


def compact_forget_ledger(spark, path: str) -> int:
    """Fold the suppression ledger's per-forget files into one distinct
    file — without this the ledger grows one small parquet file per
    forget request forever, and every append's anti-join pays the
    listing. Runs inside each index family's compact verb (the same
    cadence that folds replay duplicates); caller holds the writer
    lock, and every ledger reader/writer also runs under it.

    Crash-safe BY CONSTRUCTION, not by atomicity: the consolidated
    file is APPENDED beside the old ones first, then the old files are
    removed. A crash after the append leaves duplicate ids (harmless —
    every consumer distincts before the anti-join); a crash mid-removal
    leaves a subset of duplicates. Forgotten ids can never be LOST,
    which is the invariant that matters: losing one would let a
    replayed epoch resurrect the doc. Returns the ledger file count
    after folding (0 = no ledger)."""
    target = os.path.join(path, LEDGER_DIR)
    if not os.path.isdir(target):
        return 0
    old = [
        os.path.join(target, f)
        for f in os.listdir(target)
        if f.endswith(".parquet")
    ]
    if len(old) <= 1:
        return len(old)
    spark.catalog.refreshByPath(target)
    spark.read.parquet(target).distinct().coalesce(1).write.mode(
        "append"
    ).parquet(target)
    for f in old:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    spark.catalog.refreshByPath(target)
    return sum(1 for f in os.listdir(target) if f.endswith(".parquet"))


def remove_from_forget_ledger(spark, path: str, ids) -> int:
    """Re-consent / id-recycling verb: drop ``ids`` from the
    suppression ledger so FUTURE appends of those ids index normally —
    the explicit operator action a subject's re-published content
    requires (suppression is otherwise permanent BY DESIGN: without an
    explicit un-forget, every replayed or backfilled epoch must keep
    losing to the erasure). Caller holds the writer lock.

    Fails CLOSED under crashes, the safe direction for an erasure
    ledger: the filtered consolidation is appended first, old files
    removed after — until every old file is gone the union still
    contains the id, so a crash leaves the id SUPPRESSED (retry
    completes the removal), never un-suppressed by accident. Returns
    the number of ledger rows remaining."""
    from pyspark.sql import functions as F

    ledger = read_forget_ledger(spark, path)
    if ledger is None:
        return 0
    target = os.path.join(path, LEDGER_DIR)
    old = [
        os.path.join(target, f)
        for f in os.listdir(target)
        if f.endswith(".parquet")
    ]
    drop = F.broadcast(
        ids.select(F.col(ids.columns[0]).alias("_led_id")).distinct()
    )
    kept = ledger.join(
        drop, ledger[ledger.columns[0]] == drop["_led_id"], "left_anti"
    ).distinct()
    kept.coalesce(1).write.mode("append").parquet(target)
    for f in old:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    spark.catalog.refreshByPath(target)
    return spark.read.parquet(target).count()


def describe_forget_ledger(spark, path: str) -> dict:
    """DESCRIBE DETAIL analog for the suppression ledger: distinct
    suppressed ids and on-disk file count (the fold-cadence signal —
    compact folds to 1). {n_ids: 0, n_files: 0} when no forget has
    ever run. Reads only; no lock (ledger files are append-complete
    by the writer-lock discipline)."""
    ledger = read_forget_ledger(spark, path)
    if ledger is None:
        return {"n_ids": 0, "n_files": 0}
    target = os.path.join(path, LEDGER_DIR)
    return {
        "n_ids": ledger.distinct().count(),
        "n_files": sum(
            1 for f in os.listdir(target) if f.endswith(".parquet")
        ),
    }


def filter_ledgered(df, path: str, id_col: str, ledger=None):
    """Drop rows whose ``id_col`` is in the suppression ledger — the
    replay-resurrection guard every append/ingest/build verb applies
    under the writer lock. The ledger is broadcast (forget sets are
    tiny next to any batch); no-op without a ledger. Pass a
    pre-fetched ``ledger`` frame to filter several frames against ONE
    read (the per-append pattern)."""
    from pyspark.sql import functions as F

    if ledger is None:
        ledger = read_forget_ledger(df.sparkSession, path)
    if ledger is None:
        return df
    led = F.broadcast(
        ledger.select(F.col(ledger.columns[0]).alias("_led_id")).distinct()
    )
    return df.join(led, df[id_col] == led["_led_id"], "left_anti")


def _newest_version(live: str) -> str | None:
    """Highest-numbered sibling version directory of ``live``, or None
    (one enumerator — all_version_dirs — owns the version-dir matching
    rules, so the heal machinery and the erasure-audit surface can
    never disagree about what counts as a version)."""
    dirs = all_version_dirs(live)
    return dirs[-1] if dirs else None


def _reclaim(live: str, retain: int) -> None:
    """Delete sibling version directories that are neither the current
    pointer target, nor one of the ``retain`` newest superseded
    published snapshots. Versions numbered ABOVE the current pointer
    were never published (publishing is monotonic) — always debris.

    Safety interlock (the dangling-migration hazard): when ``live`` is
    not a symlink, there is no pointer to distinguish debris from a
    table whose publish crashed mid-flight — deleting on a guess could
    destroy the only copy, so this refuses to delete anything; heal()
    re-points the newest version first, making reclaim well-defined."""
    if not os.path.islink(live):
        return
    cur = os.path.realpath(live)
    cur_n = None
    if cur:
        m = _VER_RE.search(os.path.basename(cur))
        cur_n = int(m.group(1)) if m else None
    parent, base = os.path.dirname(live) or ".", os.path.basename(live)
    versions = []
    for name in os.listdir(parent):
        full = os.path.join(parent, name)
        m = _VER_RE.search(name)
        if (
            name.startswith(base + ".v")
            and m
            and os.path.isdir(full)
            and os.path.realpath(full) != cur
        ):
            versions.append((int(m.group(1)), full))
    debris = [p for n, p in versions if cur_n is None or n > cur_n]
    superseded = sorted(
        ((n, p) for n, p in versions if cur_n is not None and n < cur_n),
        reverse=True,
    )
    for path in debris + [p for _, p in superseded[retain:]]:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def pinned_for_write(*dfs):
    """Pin frames that feed a range-clustered write (or any multi-job
    writer verb).

    ``repartitionByRange`` plans a SEPARATE bounds-sampling job over
    its full child (Spark's RangePartitioner samples before the real
    exchange), so an expensive child lineage — tokenize + explode +
    aggregate, window chains, broadcast anti-joins — executes once for
    the sample and AGAIN for the write; a frame additionally consumed
    by a stats collect pays a third full pass. Pinning
    (MEMORY_AND_DISK: spills, never OOMs) makes the first consumer
    materialize the cache and every later consumer read it back — one
    lineage execution per verb instead of two or three. The pins are
    released when the block exits, so nothing outlives the writer verb
    (the same cache-hygiene contract as the query carriers' ``caches``
    lists; SQL-cache entries are not GC'd).

    Scale note: the pinned frames are the index TABLES being written —
    aggregated postings, champion slices, deduped lists — which are
    orders of magnitude smaller than the corpus they derive from, and
    each is written to disk immediately afterwards anyway; the pin
    trades one transient spillable copy for a full recompute of the
    lineage (at 100 TB: a second tokenize+shuffle pass over the batch).
    """
    from pyspark import StorageLevel

    ps = [d.persist(StorageLevel.MEMORY_AND_DISK) for d in dfs]
    try:
        yield ps[0] if len(ps) == 1 else ps
    finally:
        for p in ps:
            p.unpersist()


def overlap_jobs(*thunks, max_in_flight: int = 4):
    """Run independent Spark-action thunks from driver threads and
    return their results in call order.

    Spark's scheduler runs jobs from several driver threads at once;
    actions are only sequential because driver code calls them
    sequentially. A lifecycle verb that touches several INDEPENDENT
    index families (or proof queries over different tables) otherwise
    leaves most executors idle during each job's straggler tail — the
    next family's tasks back-fill the freed slots instead. FIFO
    scheduling keeps the first job's resource priority, which is
    exactly the back-fill behavior wanted; results are deterministic
    because each thunk is (the thunks share no mutable state and each
    family verb locks its own path). A thunk's exception propagates to
    the caller like the sequential form's would — after the pool
    drains, so no family is left mid-write by a sibling's failure.

    In-flight jobs are BOUNDED by ``max_in_flight`` (default 4 — guide
    §2.6: "2-3 in flight is plenty — enough to fill the tail, not so
    many that they fight"): the win is back-filling each job's
    straggler tail, which saturates after a few concurrent jobs, while
    N unbounded FIFO jobs contend for executors and driver scheduling
    on a real cluster. Excess thunks queue in submission order. A
    caller whose thunks are tiny METADATA jobs (sub-second footer
    counts that occupy one task each — latency-bound, not
    capacity-bound) may raise the cap; the default protects the heavy
    writer verbs.

    Limitation (pinned-thread PySpark): jobs launched from these worker
    threads do NOT inherit the driver thread's Spark local properties —
    job group, description, scheduler pool set on the caller's thread
    silently stop covering the overlapped jobs. Nothing in this repo
    relies on job-group cancellation of overlapped work; a future
    caller that does must propagate properties itself (e.g. via
    ``pyspark.InheritableThread``).
    """
    from concurrent.futures import ThreadPoolExecutor

    if not thunks:
        return []
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=min(max_in_flight, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def write_snapshot_table(
    df,
    target: str,
    partition_by: str | None = None,
    single_file: bool = False,
    n_rows: int | None = None,
) -> None:
    """Write one index table's new version directory with the layout
    its readers expect — shared by the forget verbs so the one
    empty-table hazard is handled in ONE place: a partitionBy write of
    an EMPTY frame emits only _SUCCESS (no schema-bearing footer), and
    every subsequent read of the published version dies with
    UNABLE_TO_INFER_SCHEMA — the tenant-offboarding shape (forget set
    covers every indexed row). An empty snapshot therefore writes
    non-partitioned: the partition column rides as an ordinary data
    column of the 0-row schema-bearing file, so readers plan normally
    and see zero rows.

    ``n_rows=None`` (the forget verbs' path) means the count is NOT
    known up front — pre-counting would execute the caller's anti-join
    twice, once for the count and once for the write. Instead the
    partitioned write runs first and the 0-row case is detected from
    the written tree (an empty partitionBy write emits no parquet at
    all), falling back to the schema-bearing rewrite — which re-plans
    the frame, but only in the forget-everything edge where the source
    scan found nothing to keep. Callers then count ``target`` itself
    instead of re-running the anti-join (the LSH verbs read its
    parquet footers on the driver)."""
    if partition_by is not None and (n_rows is None or n_rows > 0):
        df.repartition(partition_by).write.mode("overwrite").partitionBy(
            partition_by
        ).parquet(target)
        if n_rows is None and parquet_file_count(target) == 0:
            df.coalesce(1).write.mode("overwrite").parquet(target)
    elif single_file or n_rows == 0:
        df.coalesce(1).write.mode("overwrite").parquet(target)
    else:
        # non-partitioned writes emit a schema-bearing footer even for
        # zero rows, so an unknown count needs no fallback here
        df.write.mode("overwrite").parquet(target)


def write_version_meta(version_dir: str, name: str, meta: dict) -> None:
    """Write an index's parameter sidecar INSIDE a version directory,
    BEFORE it is published: the pointer flip then publishes data and
    parameters in one atomic step, so a reader can never pair new data
    with old parameters (or vice versa) during a rebuild. The name
    starts with ``_`` so Spark's file index ignores it in parquet
    scans. Written via temp + ``os.replace`` so a reader never sees a
    truncated sidecar — appends UPDATE the current version's sidecar in
    place (e.g. the IVF cid manifest), and that rewrite must be atomic
    even though version publication itself is."""
    tmp = os.path.join(version_dir, name + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(version_dir, name))


def snapshot_meta(live: str, name: str, root: str) -> tuple[str, dict]:
    """Resolve the live pointer ONCE and return ``(version_dir, meta)``
    as a coupled pair — the reader-side half of the atomic-parameters
    contract. Callers MUST scan the returned ``version_dir`` (not
    re-resolve ``live``), so the parameters they plan with always
    describe the exact snapshot they read. Falls back to the root-level
    sidecar for indexes written before meta rode the version
    directories (those never rebuilt, so the root copy is current)."""
    vd = current_version_dir(live)
    p = os.path.join(vd, name)
    if not os.path.exists(p):
        p = os.path.join(root, name)
    with open(p) as fh:
        return vd, json.load(fh)


def carry_version_meta(src_dir: str, dst_dir: str, name: str) -> None:
    """Copy the parameter sidecar into a compaction's new version
    directory before publish (parameters are unchanged by a compact,
    but every published version must be self-describing). No-op for a
    legacy version that predates in-version meta."""
    src = os.path.join(src_dir, name)
    if os.path.exists(src):
        shutil.copyfile(src, os.path.join(dst_dir, name))


def describe_index(spark, path: str, tables: tuple[str, ...]) -> list[dict]:
    """DESCRIBE DETAIL analog for one persisted index: per table, the
    published version number, live file count, and row count — the
    observability surface the OPTIMIZE/rebuild cadence decisions read.
    Reads only (no lock): the pointer always resolves to a complete
    published version."""
    out = []
    for t in tables:
        live = os.path.join(path, t)
        cur = current_version_dir(live)
        m = _VER_RE.search(os.path.basename(cur))
        out.append(
            {
                "table": t,
                "version": int(m.group(1)) if m else -1,
                "n_files": parquet_file_count(live),
                "n_rows": spark.read.parquet(cur).count(),
            }
        )
    return out

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

**One versioned-table layer for all three families.** Each family
declares its tables once (an ``IndexTables``: a primary table whose
version directory carries the parameter meta, an optional secondary
table the meta names, and each table's write ``Layout``), and every
build, compact, forget and rebuild goes through the same three parts
(BM25's tiers, whose side tables live inside the tier's version
directory, publish through ``bm25._publish_tier``):

- ``open_snapshot`` resolves the primary pointer ONCE and takes the
  secondary version the primary's meta names (``shash_dir`` /
  ``doclens_dir``), so the primary's pointer flip is the single atomic
  commit for the pair. That version meta is the only meta a verb
  reads.
- ``read_table`` reads a table with the schema its version meta
  records under ``schemas`` (``StructType.jsonValue()``, partition
  column last, as a partitioned read lists it), so planning the read
  starts no schema-inference job.
- ``write_versions`` writes every table's next version (overlapped
  across tables), records their schemas, counts their rows from the
  parquet footers (a driver-side read, no job), writes the primary's
  version meta naming the secondary version (with the counts and a
  ``dup_free`` flag, see ``is_dup_free``), appends the forget
  ledger (forget only — BEFORE any pointer flip: a crash between the
  two leaves a harmless ledger entry, the reverse order would leave a
  published forget a replay could undo), publishes the secondary and
  THEN the primary (a reader resolving the old primary still finds the
  old, retained secondary), vacuums every superseded version on an
  erase, and refreshes the session's file listings. An empty table
  (a forget that removes every row) is written schema-bearing
  (``write_table``); the newest superseded version of each table is
  retained for in-flight readers unless the verb erases.

``compact_tables`` and ``forget_rows`` are the two rewrite verbs on
top of them; a family supplies only its row transform (its
``dedup_keys``, or the pinned forget-id set from
``pinned_forget_ids``) and runs them under its own ``writer_lock``.

**One on-disk format.** Every published version directory of a
primary table carries its version meta, and that meta records
``schemas``, ``rows``, ``dup_free`` and, for a family with a secondary
table, the pair key. It is the only place a reader learns a table's
version and schema, the stand-in for a Delta table's transaction log.
An index without them is rejected, never read another way: a plain
directory at a live path fails the next locked writer's ``heal``, a
version without its meta fails on opening the meta file, and a table
the meta records no schema for fails in ``read_table``. Such an index
must be rebuilt: delete it and build it again.

**The suppression ledger is read on the driver.** Its files hold ids
only, so ``read_forget_ledger`` reads them with pyarrow into a local
relation — no Spark job — once per lock scope, and ``filter_ledgered``
takes that frame as a required argument: a ledger of at most
``LEDGER_INLINE_MAX`` ids filters as a literal IN-set (no job),
a larger one as a broadcast anti-join. A verb that holds its rows on
the driver filters them there instead (``read_forget_ledger_ids`` and
``drop_ledgered_rows``), which starts no job at any ledger size.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import socket
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from lakehouse_dba_tools_spark.maintenance.history import footer_row_count

LOCK_NAME = "_INDEX_LOCK"
HOST_NAME = "_INDEX_HOST"
LEDGER_DIR = "_forget_ledger"
# A ledger with at most this many ids filters as a literal IN-set,
# which starts no job; a larger one is broadcast (one job per filter).
# Measured on a 4-core host (100-doc LSH ingests into a 2,000-doc
# index): up to 128 ids both forms take the same wall time and the
# IN-set starts 5-6 fewer jobs; at 256 ids the IN-set is slower in
# every pair, at 512 by ~0.9 s and at 4,096 by ~12 s, since building
# and planning the literal list grows with the ledger.
LEDGER_INLINE_MAX = 128
_FORGET_ID = "_forget_id"
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
    version.

    Raises ``ValueError`` when ``live`` is a plain directory: a table
    from before versioned tables, which this layer does not read."""
    tmp = live + "._ptr"
    if os.path.islink(tmp) or os.path.exists(tmp):
        os.remove(tmp)
    if os.path.isdir(live) and not os.path.islink(live):
        raise ValueError(
            f"index table {live!r} is a plain directory, not a pointer to "
            f"a version directory: the index predates versioned tables. "
            f"Rebuild the index (delete it and build it again)."
        )
    if not os.path.lexists(live):
        # Lost-pointer recovery: a crash that leaves version dirs but
        # no live path (a first publish that died before its pointer
        # landed) must not lose them — without this re-point, _reclaim
        # (no pointer) could not tell debris from the table's only
        # copy. Re-point at the NEWEST version sibling (publishing is
        # monotonic). For a crashed-before-first-publish fresh build
        # it may resurrect a possibly-partial .v0, which the imminent
        # build overwrites (init_versioned) — resurrecting is
        # recoverable, deleting the only copy is not.
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


def _ledger_files(path: str) -> list[str]:
    """The ledger's committed parquet files, sorted (``_temporary``
    debris and hidden checksum files are not parquet files here)."""
    target = os.path.join(path, LEDGER_DIR)
    if not os.path.isdir(target):
        return []
    return sorted(
        os.path.join(target, f)
        for f in os.listdir(target)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _ledger_table(path: str):
    """The ledger's rows as one pyarrow table, read on the driver, or
    None when no file is committed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = _ledger_files(path)
    if not files:
        return None
    return pa.concat_tables(
        [pq.read_table(f) for f in files], promote_options="permissive"
    )


def _distinct_ids(table):
    """Distinct rows of a one-column ledger table (a null id is one
    row, as Spark's ``distinct`` counts it)."""
    return table.group_by(table.column_names[0]).aggregate([])


def read_forget_ledger(spark, path: str):
    """The index's suppression ledger as a one-column DataFrame, or
    None when no forget has ever run (the common case — append paths
    skip the filter entirely). A ledger DIRECTORY with no committed
    parquet file (a write that died after mkdir but before commit —
    only ``_temporary`` debris inside) also reads as None, so crash
    debris can never wedge every subsequent verb on the index; the
    interrupted forget never published, so there is nothing the debris
    was suppressing.

    The ids are read on the driver (pyarrow, from the files committed
    right now) into a local relation: reading starts no Spark job, no
    schema is inferred, and no cached file listing can hand a later
    reader a pre-forget view of the ledger. Read it once per writer-lock
    scope and pass the frame to every ``filter_ledgered`` in that
    scope."""
    table = _ledger_table(path)
    return None if table is None else spark.createDataFrame(table)


def read_forget_ledger_ids(path: str):
    """The suppression ledger's ids as one pyarrow array, or None when
    no forget has ever run — ``read_forget_ledger`` for a verb that
    filters rows it already holds on the driver
    (``drop_ledgered_rows``). Read once per writer-lock scope, like the
    frame."""
    table = _ledger_table(path)
    return None if table is None else table.column(0).combine_chunks()


def compact_forget_ledger(spark, path: str) -> int:
    """Fold the suppression ledger's per-forget files into one distinct
    file — without this the ledger grows one small parquet file per
    forget request forever, and every append's read pays the listing.
    Runs inside each index family's compact verb (the same cadence
    that folds replay duplicates); caller holds the writer lock, and
    every ledger reader/writer also runs under it.

    Crash-safe BY CONSTRUCTION, not by atomicity: the consolidated
    file is APPENDED beside the old ones first, then the old files are
    removed. A crash after the append leaves duplicate ids (harmless —
    a duplicate id filters the same rows); a crash mid-removal leaves
    a subset of duplicates. Forgotten ids can never be LOST, which is
    the invariant that matters: losing one would let a replayed epoch
    resurrect the doc. Returns the ledger file count after folding
    (0 = no ledger)."""
    old = _ledger_files(path)
    if len(old) <= 1:
        return len(old)
    spark.createDataFrame(_distinct_ids(_ledger_table(path))).coalesce(
        1
    ).write.mode("append").parquet(os.path.join(path, LEDGER_DIR))
    _remove_files(old)
    return len(_ledger_files(path))


def _remove_files(files: list[str]) -> None:
    for f in files:
        try:
            os.remove(f)
        except FileNotFoundError:
            pass


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
    old = _ledger_files(path)
    drop = F.broadcast(
        ids.select(F.col(ids.columns[0]).alias("_led_id")).distinct()
    )
    kept = ledger.join(
        drop, ledger[ledger.columns[0]] == drop["_led_id"], "left_anti"
    ).distinct()
    kept.coalesce(1).write.mode("append").parquet(os.path.join(path, LEDGER_DIR))
    _remove_files(old)
    return _ledger_table(path).num_rows


def describe_forget_ledger(spark, path: str) -> dict:
    """DESCRIBE DETAIL analog for the suppression ledger: distinct
    suppressed ids and on-disk file count (the fold-cadence signal —
    compact folds to 1). {n_ids: 0, n_files: 0} when no forget has
    ever run. Reads only, on the driver; no lock (ledger files are
    append-complete by the writer-lock discipline)."""
    table = _ledger_table(path)
    if table is None:
        return {"n_ids": 0, "n_files": 0}
    return {
        "n_ids": _distinct_ids(table).num_rows,
        "n_files": len(_ledger_files(path)),
    }


def filter_ledgered(df, id_col: str, *, ledger):
    """Drop rows whose ``id_col`` is in the suppression ledger — the
    replay-resurrection guard every append/ingest/build verb applies
    under the writer lock. ``ledger`` is the frame one
    ``read_forget_ledger`` returned for the current lock scope (None:
    no forget has run, and ``df`` comes back unchanged); passing it is
    required, so no filter reads the ledger on its own.

    A ledger of at most ``LEDGER_INLINE_MAX`` ids becomes a literal
    IN-set filter, which starts no job; a larger one is broadcast for
    a left-anti join (forget sets are tiny next to any batch). Either
    way a null id is kept, as the anti-join keeps it."""
    from pyspark.sql import functions as F

    if ledger is None:
        return df
    head = ledger.take(LEDGER_INLINE_MAX + 1)
    if len(head) <= LEDGER_INLINE_MAX:
        ids = [r[0] for r in head if r[0] is not None]
        if not ids:
            return df
        return df.filter(F.col(id_col).isNull() | ~F.col(id_col).isin(ids))
    led = F.broadcast(ledger.select(F.col(ledger.columns[0]).alias("_led_id")))
    return df.join(led, df[id_col] == led["_led_id"], "left_anti")


def drop_ledgered_rows(table, id_col: str, *, ledger):
    """``filter_ledgered`` for a pyarrow table held on the driver: drop
    the rows whose ``id_col`` is in ``ledger``, the array one
    ``read_forget_ledger_ids`` returned for the current lock scope
    (None: ``table`` comes back unchanged). A null id is kept, as
    ``filter_ledgered`` keeps it. Starts no Spark job, at any ledger
    size."""
    import pyarrow.compute as pc

    if ledger is None:
        return table
    ids = table[id_col]
    return table.filter(pc.or_(
        pc.is_null(ids), pc.invert(pc.is_in(ids, value_set=ledger))
    ))


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

    Safety interlock (the lost-pointer hazard): when ``live`` is
    not a symlink, there is no pointer to distinguish debris from a
    table whose publish crashed mid-flight — deleting on a guess could
    destroy the only copy, so this refuses to delete anything; heal()
    re-points the newest version first, making reclaim well-defined."""
    if not os.path.islink(live):
        return
    cur = os.path.realpath(live)
    m = _VER_RE.search(os.path.basename(cur))
    cur_n = int(m.group(1)) if m else None
    superseded = []
    for path in all_version_dirs(live):  # ascending version numbers
        if os.path.realpath(path) == cur:
            continue
        n = int(_VER_RE.search(path).group(1))
        if cur_n is None or n > cur_n:
            shutil.rmtree(path, ignore_errors=True)
        elif n < cur_n:
            superseded.append(path)
    for path in superseded[::-1][retain:]:
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

    A frame the caller has pinned already is used as it is and left
    pinned on exit, so a nested pin never releases an outer one.
    """
    from pyspark import StorageLevel

    new = [d for d in dfs if not d.is_cached]
    for d in new:
        d.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield dfs[0] if len(dfs) == 1 else list(dfs)
    finally:
        for d in new:
            d.unpersist()


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


@dataclass(frozen=True)
class Layout:
    """How one index table is written: clustered into one directory per
    ``partition_by`` value, range-partitioned and sorted on the
    ``range_by`` columns (parquet row-group min/max on the sort key
    become a skip index), or neither."""

    partition_by: str | None = None
    range_by: tuple[str, ...] = ()


def write_table(df, target: str, layout: Layout, append: bool = False,
                pack: bool = False) -> None:
    """Write (or with ``append``, add to) one index table directory in
    the layout its readers expect. ``pack`` bin-packs a table with
    neither partitioning nor sort into one file — what a compact or
    forget rewrite publishes.

    A range write pins ``df`` for the call: ``repartitionByRange``
    samples its bounds in a separate job over the full child, which
    would otherwise run the lineage twice (``pinned_for_write``).

    The empty-table hazard is handled here, in ONE place: a partitionBy
    write of an EMPTY frame emits only _SUCCESS (no schema-bearing
    footer), and every later read of the published version would die
    with UNABLE_TO_INFER_SCHEMA — the tenant-offboarding shape (a
    forget set covering every indexed row). The row count is not known
    up front (pre-counting would run the caller's anti-join twice), so
    the partitioned write runs first and a tree with no parquet file is
    rewritten non-partitioned: the partition column rides as an
    ordinary data column of a 0-row schema-bearing file, and readers
    plan normally and see zero rows. Non-partitioned writes emit a
    schema-bearing footer even for zero rows."""
    mode = "append" if append else "overwrite"
    if layout.partition_by is not None:
        col = layout.partition_by
        df.repartition(col).write.mode(mode).partitionBy(col).parquet(target)
        if not append and parquet_file_count(target) == 0:
            df.coalesce(1).write.mode("overwrite").parquet(target)
    elif layout.range_by:
        cols = layout.range_by
        with pinned_for_write(df) as pinned:
            pinned.repartitionByRange(*cols).sortWithinPartitions(*cols).write.mode(
                mode
            ).parquet(target)
    elif pack:
        df.coalesce(1).write.mode(mode).parquet(target)
    else:
        df.write.mode(mode).parquet(target)


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


def snapshot_meta(live: str, name: str) -> tuple[str, dict]:
    """Resolve the live pointer ONCE and return ``(version_dir, meta)``
    as a coupled pair — the reader-side half of the atomic-parameters
    contract. Callers MUST scan the returned ``version_dir`` (not
    re-resolve ``live``), so the parameters they plan with always
    describe the exact snapshot they read. A version without the meta
    raises ``FileNotFoundError`` naming the meta file."""
    vd = current_version_dir(live)
    with open(os.path.join(vd, name)) as fh:
        return vd, json.load(fh)


def describe_index(path: str, tables: tuple[str, ...]) -> list[dict]:
    """DESCRIBE DETAIL analog for one persisted index: per table, the
    published version number, live file count, and row count — the
    observability surface the OPTIMIZE/rebuild cadence decisions read.
    Reads only (no lock): the pointer always resolves to a complete
    published version. Rows are counted from the parquet footers on
    the driver, so describing starts no Spark job."""
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
                "n_rows": footer_row_count(cur),
            }
        )
    return out


@dataclass(frozen=True)
class IndexTables:
    """One index family's versioned tables.

    ``primary``'s version directory carries the parameter meta
    ``meta_name``; ``secondary``, when the family has one, is the table
    that meta names under ``pair_key``.
    ``layouts`` gives each table's write layout. ``row_id`` is the id
    column of the tables when it is fixed (otherwise the meta's
    ``id_col``); ``dedup_keys`` maps that id column to each table's
    replay-duplicate key; ``manifest`` derives extra meta keys from
    the primary's written version directory."""

    primary: str
    meta_name: str
    layouts: dict[str, Layout]
    dedup_keys: Callable[[str], dict[str, list[str]]]
    secondary: str | None = None
    pair_key: str | None = None
    row_id: str | None = None
    manifest: Callable[[str], dict] | None = None

    @property
    def names(self) -> tuple[str, ...]:
        """Table names, primary first."""
        return (self.primary,) + ((self.secondary,) if self.secondary else ())

    def id_column(self, meta: dict) -> str:
        return self.row_id or meta["id_col"]


@dataclass(frozen=True)
class Snapshot:
    """One resolved index snapshot: each table's version directory
    (primary first) and the primary's version meta."""

    dirs: dict[str, str]
    meta: dict


def open_snapshot(path: str, tables: IndexTables) -> Snapshot:
    """Resolve the primary pointer ONCE and pair it with the secondary
    version its meta names — the reader-side half of the single-flip
    commit. Callers scan the returned directories (never re-resolve the
    live paths), so the parameters and the paired table always come
    from one publish. A named version reclaimed while the live path is
    still versioned (a reader ≥2 compacts stale, or post-vacuum) stays
    pointed-at and fails loudly on first file access — the retention
    contract, never a silent re-pair."""
    vd, meta = snapshot_meta(os.path.join(path, tables.primary), tables.meta_name)
    dirs = {tables.primary: vd}
    if tables.secondary is not None:
        dirs[tables.secondary] = os.path.join(path, meta[tables.pair_key])
    return Snapshot(dirs, meta)


def read_table(spark, snap: Snapshot, table: str, parts: list[str] | None = None):
    """Read one table of ``snap`` with the schema its version meta
    records, so planning the read starts no schema-inference job; a
    meta that records no schema for ``table`` raises ``ValueError``.
    ``parts`` reads only those partition subdirectories (the partition
    column is kept, taken from the directory names)."""
    from pyspark.sql.types import StructType

    vd = snap.dirs[table]
    schema = snap.meta.get("schemas", {}).get(table)
    if schema is None:
        raise ValueError(
            f"index at {os.path.dirname(next(iter(snap.dirs.values())))!r}: "
            f"the version meta records no 'schemas' entry for table "
            f"{table!r}. Rebuild the index (delete it and build it again)."
        )
    reader = spark.read.schema(StructType.fromJson(schema))
    if parts is None:
        return reader.parquet(vd)
    return reader.option("basePath", vd).parquet(
        *[os.path.join(vd, p) for p in parts]
    )


def reader_schema(df, layout: Layout) -> dict:
    """``df``'s schema as a read of the written table lists it, for the
    version meta's ``schemas``: a partitioned read puts the partition
    column last, and a parquet read makes every field, array element and
    map value nullable, whatever the writer's frame said. So a table
    written from computed rows (a build) and one rewritten from a read
    of itself (a compact, forget or rebuild) record the same schema."""
    cols = [c for c in df.columns if c != layout.partition_by]
    if layout.partition_by is not None:
        cols.append(layout.partition_by)
    return json.loads(re.sub(
        r'"(nullable|containsNull|valueContainsNull)":false', r'"\1":true',
        df.select(cols).schema.json(),
    ))


def heal_tables(path: str, tables: IndexTables) -> None:
    """``heal`` every table of the family (caller holds the lock)."""
    for t in tables.names:
        heal(os.path.join(path, t))


def refresh_listings(spark, path: str, tables) -> None:
    """Invalidate the session's cached file listings for the named
    tables: the live path and the version directory it resolves to
    (readers bind to the resolved directory, so that listing is the
    one the cache keys). Without this, a query DataFrame created
    BEFORE a write can leave a stale listing in the shared
    FileStatusCache, and a query created AFTER it may silently
    evaluate against the old snapshot — observed as a deterministic
    missing pair in the two-batch LSH carrier until this refresh was
    added."""
    for t in tables:
        live = os.path.join(path, t)
        spark.catalog.refreshByPath(live)
        spark.catalog.refreshByPath(current_version_dir(live))


def write_versions(
    spark,
    path: str,
    tables: IndexTables,
    frames: dict,
    meta: dict,
    pack: bool = False,
    ledger_ids=None,
    erase: bool = False,
    dup_free: bool = True,
) -> tuple[dict, dict[str, int]]:
    """Write and publish the next version of every table in ``frames``
    (caller holds the writer lock and has healed the tables). In order:
    writes each table's new version directory in its layout (the
    tables are independent jobs, overlapped from driver threads;
    ``pack`` as in ``write_table``); records the reader schemas; counts
    each version's rows from its parquet footers; writes the primary's
    version meta (``meta`` plus ``schemas``, the counts as ``rows``,
    ``dup_free``, the secondary version under ``pair_key``, and the
    family's ``manifest``); appends ``ledger_ids``
    to the forget ledger BEFORE any pointer flip; publishes the
    secondary and then the primary; vacuums every superseded version
    when ``erase``; and refreshes the file listings. Returns the meta
    written and ``{table: rows}``."""
    order = tables.names[::-1]  # secondary first, so the primary commits
    targets = {t: init_versioned(os.path.join(path, t)) for t in order}
    overlap_jobs(*[
        (lambda t=t: write_table(frames[t], targets[t], tables.layouts[t], pack=pack))
        for t in order
    ])
    meta = {
        **meta,
        "schemas": {t: reader_schema(frames[t], tables.layouts[t]) for t in order},
    }
    rows = {t: footer_row_count(targets[t]) for t in order}
    meta.update(rows=rows, dup_free=dup_free)
    if tables.secondary is not None:
        meta[tables.pair_key] = os.path.basename(targets[tables.secondary])
    if tables.manifest is not None:
        meta.update(tables.manifest(targets[tables.primary]))
    write_version_meta(targets[tables.primary], tables.meta_name, meta)
    if ledger_ids is not None:
        append_forget_ledger(ledger_ids, path, meta["id_col"])
    for t in order:
        publish(os.path.join(path, t), targets[t])
    if erase:
        for t in order:
            vacuum_versions(os.path.join(path, t))
    refresh_listings(spark, path, order)
    return meta, rows


def is_dup_free(snap: Snapshot, rows: dict[str, int] | None = None) -> bool:
    """Whether ``snap``'s tables hold no replay duplicates: its meta was
    written ``dup_free`` (by a build, a compact, or a forget of a
    dup-free snapshot) and the footer counts (``rows`` if the caller
    has them; no job either way) still equal the recorded ``rows``, so
    nothing was appended since."""
    if not snap.meta["dup_free"]:
        return False
    if rows is None:
        rows = {t: footer_row_count(d) for t, d in snap.dirs.items()}
    return rows == snap.meta["rows"]


def append_tables(spark, path: str, tables: IndexTables, snap: Snapshot, frames: dict) -> None:
    """Append ``frames`` into the snapshot's CURRENT version directories
    (caller holds the writer lock and resolved ``snap`` under it, so
    the secondary rows land in the version the primary names). Parquet
    appends add files only: a reader racing one sees a prefix, the
    standard parquet-append visibility. The tables' appends overlap;
    the family's manifest is then rewritten in place (atomic
    temp+replace), and the listings refreshed."""
    overlap_jobs(*[
        (lambda t=t: write_table(
            frames[t], snap.dirs[t], tables.layouts[t], append=True
        ))
        for t in tables.names
    ])
    if tables.manifest is not None:
        vd = snap.dirs[tables.primary]
        write_version_meta(vd, tables.meta_name, {**snap.meta, **tables.manifest(vd)})
    refresh_listings(spark, path, tables.names)


@contextmanager
def pinned_forget_ids(forget_ids):
    """The distinct ids of a forget request (its first column, renamed
    ``_forget_id``), pinned and filled with one count: every table's
    rewrite and the ledger append read the pin, so the caller's
    ``forget_ids`` lineage runs once. Released on exit."""
    from pyspark.sql import functions as F

    distinct = forget_ids.select(
        F.col(forget_ids.columns[0]).alias(_FORGET_ID)
    ).distinct()
    with pinned_for_write(distinct) as ids:
        ids.count()
        yield ids


def compact_tables(spark, path: str, tables: IndexTables) -> dict:
    """The OPTIMIZE analog for one index, under the caller's writer
    lock: drop each table's replay duplicates (rows are idempotent per
    ``dedup_keys``), publish every table as a new version in its layout
    (unpartitioned, unsorted tables bin-packed to one file), and fold
    the forget ledger's files. Returns {table: {files_before,
    files_after, rows}}, the rows read from the written footers."""
    heal_tables(path, tables)
    snap = open_snapshot(path, tables)
    keys = tables.dedup_keys(tables.id_column(snap.meta))
    before = {t: parquet_file_count(os.path.join(path, t)) for t in tables.names}
    frames = {
        t: read_table(spark, snap, t).dropDuplicates(keys[t]) for t in tables.names
    }
    _, rows = write_versions(spark, path, tables, frames, snap.meta, pack=True)
    compact_forget_ledger(spark, path)
    return {
        t: {
            "files_before": before[t],
            "files_after": parquet_file_count(os.path.join(path, t)),
            "rows": rows[t],
        }
        for t in tables.names
    }


def forget_rows(spark, path: str, tables: IndexTables, ids, erase: bool = False) -> dict:
    """The right-to-be-forgotten rewrite for one index, under the
    caller's writer lock: every table anti-joins the BROADCAST pinned
    id set from ``pinned_forget_ids`` and publishes as a new version,
    with the ids appended to the ledger before the pointer flips, and
    every superseded version vacuumed when ``erase``. Returns {table:
    {rows_before, rows_removed, rows_after}}, counted from the footers
    of the source and the written version (no Spark job)."""
    from pyspark.sql import functions as F

    heal_tables(path, tables)
    snap = open_snapshot(path, tables)
    col = tables.id_column(snap.meta)
    bcast = F.broadcast(ids)
    frames = {}
    for t in tables.names:
        src = read_table(spark, snap, t)
        frames[t] = src.join(bcast, src[col] == bcast[_FORGET_ID], "left_anti")
    before = {t: footer_row_count(snap.dirs[t]) for t in tables.names}
    # an anti-join drops rows and never folds them: the rewrite is
    # dup-free exactly when its source is
    _, after = write_versions(
        spark, path, tables, frames, snap.meta, pack=True, ledger_ids=ids,
        erase=erase, dup_free=is_dup_free(snap, before),
    )
    return {
        t: {
            "rows_before": before[t],
            "rows_removed": before[t] - after[t],
            "rows_after": after[t],
        }
        for t in tables.names
    }

"""Filesystem-level tests for operators/indexio.py — the shared
versioned-pointer + writer-lock primitives under the persisted-index
family (dedup/index.py, similarity/index.py, similarity/bm25.py).

These simulate the two hazards the module exists to close (round-7
ADVICE): a crash between the old two-rename swap (live path absent)
and an append racing a compaction's directory swap (append silently
deleted). No SparkSession needed — the contract is pure filesystem.
"""

import os
import threading
import time

from lakehouse_dba_tools_spark.operators.indexio import (
    current_version_dir,
    heal,
    init_versioned,
    next_version_dir,
    publish,
    writer_lock,
)


def _mk_version(live, marker):
    target = init_versioned(live)
    os.makedirs(target)
    with open(os.path.join(target, "data.parquet"), "w") as fh:
        fh.write(marker)
    return target


def _read_live(live):
    with open(os.path.join(live, "data.parquet")) as fh:
        return fh.read()


def test_publish_flips_pointer_with_snapshot_retention(tmp_path):
    live = str(tmp_path / "bands")
    v0 = _mk_version(live, "v0")
    publish(live, v0)
    assert os.path.islink(live) and _read_live(live) == "v0"
    assert current_version_dir(live) == os.path.realpath(v0)

    v1 = _mk_version(live, "v1")
    assert v1.endswith(".v1")
    publish(live, v1)
    assert _read_live(live) == "v1"
    # the newest superseded snapshot is RETAINED for in-flight readers
    assert os.path.exists(v0)

    v2 = _mk_version(live, "v2")
    publish(live, v2)
    assert _read_live(live) == "v2"
    # retention window is 1: v1 kept, v0 reclaimed
    assert os.path.exists(v1) and not os.path.exists(v0)

    from lakehouse_dba_tools_spark.operators.indexio import vacuum_versions

    vacuum_versions(live)
    assert _read_live(live) == "v2" and not os.path.exists(v1)


def test_live_path_always_resolves_during_publish(tmp_path):
    """The old rename(live, old); rename(staging, live) swap had a
    window with NO live path. The pointer flip must not: the live
    symlink resolves to a complete version at every instant."""
    live = str(tmp_path / "bands")
    publish(live, _mk_version(live, "v0"))

    stop = threading.Event()
    failures = []

    def reader():
        while not stop.is_set():
            try:
                if _read_live(live) not in ("v0", "v1"):
                    failures.append("partial content")
            except FileNotFoundError:
                failures.append("live path absent")

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(50):
            publish(live, _mk_version(live, "v1" if _read_live(live) == "v0" else "v0"))
            time.sleep(0.001)
    finally:
        stop.set()
        t.join()
    assert not failures


def test_heal_removes_orphans_keeps_current_and_retained(tmp_path):
    """A crash after writing a new version but before publish leaves
    an orphan directory numbered ABOVE the pointer; heal (run under
    the writer lock) removes it but never touches the published
    version or the retained superseded snapshot."""
    live = str(tmp_path / "bands")
    publish(live, _mk_version(live, "v0"))
    v1 = _mk_version(live, "v1")
    publish(live, v1)  # v0 retained, v1 current
    # simulate the crash: next version fully written, never published
    orphan = _mk_version(live, "vX")
    # and a stale pointer temp from a crash mid-publish
    os.symlink(os.path.basename(orphan), live + "._ptr")
    heal(live)
    assert not os.path.exists(orphan)
    assert not os.path.lexists(live + "._ptr")
    assert _read_live(live) == "v1"
    # the retained published snapshot survives heal
    assert os.path.exists(str(tmp_path / "bands.v0"))


def test_next_version_increments_from_pointer(tmp_path):
    live = str(tmp_path / "bands")
    assert next_version_dir(live).endswith(".v0")
    publish(live, _mk_version(live, "a"))
    assert next_version_dir(live).endswith(".v1")
    publish(live, _mk_version(live, "b"))
    assert next_version_dir(live).endswith(".v2")


def test_writer_lock_serializes(tmp_path):
    """Two writers on the same index root run strictly one-at-a-time
    (the append-during-compact race from the round-7 ADVICE)."""
    root = str(tmp_path / "idx")
    order = []

    def writer(tag):
        with writer_lock(root):
            order.append((tag, "in"))
            time.sleep(0.05)
            order.append((tag, "out"))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # strict nesting: every 'in' is immediately followed by its own 'out'
    for i in range(0, len(order), 2):
        assert order[i][0] == order[i + 1][0]
        assert order[i][1] == "in" and order[i + 1][1] == "out"


def test_version_machine_invariants_under_random_op_sequences(tmp_path):
    """Property: under ANY interleaving of publish / heal / vacuum /
    crash-debris injection, (1) the live pointer always resolves to the
    complete most-recently-published version, (2) at most retain+1
    version directories exist after any writer op, and (3) vacuum
    leaves exactly the current one."""
    import os

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from lakehouse_dba_tools_spark.operators.indexio import (
        current_version_dir,
        heal,
        init_versioned,
        publish,
        vacuum_versions,
    )

    ops = st.lists(
        st.sampled_from(["publish", "heal", "vacuum", "crash_debris"]),
        min_size=1,
        max_size=12,
    )

    @settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
    @given(seq=ops)
    def run(seq):
        import shutil
        import tempfile

        root = tempfile.mkdtemp(dir=str(tmp_path))
        try:
            live = os.path.join(root, "t")

            def mk(marker):
                target = init_versioned(live)
                os.makedirs(target)
                with open(os.path.join(target, "data.parquet"), "w") as fh:
                    fh.write(marker)
                return target

            published = 0
            publish(live, mk("m0"))
            for op in seq:
                if op == "publish":
                    published += 1
                    publish(live, mk(f"m{published}"))
                elif op == "heal":
                    heal(live)
                elif op == "vacuum":
                    vacuum_versions(live)
                else:  # crash_debris: written but never published
                    target = init_versioned(live)
                    os.makedirs(target)
                # (1) pointer resolves to the last published content
                with open(os.path.join(live, "data.parquet")) as fh:
                    assert fh.read() == f"m{published}"
                # (2) bounded dirs after any WRITER op (debris counts
                # until the next writer op heals it)
                vdirs = [
                    d for d in os.listdir(root)
                    if d.startswith("t.v") and os.path.isdir(os.path.join(root, d))
                ]
                assert len(vdirs) <= 3  # current + retained + 1 debris
                if op == "vacuum":
                    assert [os.path.join(root, d) for d in vdirs] == [
                        current_version_dir(live)
                    ]
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_writer_lock_rejects_foreign_host(tmp_path):
    """Single-host ownership guard (the no-jars analog of Delta's
    multi-cluster write boundary): flock and symlink-replace atomicity
    are single-host guarantees, so a writer on a different host than
    the one that created the index must fail fast and loud instead of
    silently corrupting it. Re-claiming = deleting the marker (a
    deliberate operator action)."""
    import pytest

    from lakehouse_dba_tools_spark.operators.indexio import HOST_NAME

    root = str(tmp_path / "idx")
    with writer_lock(root):
        pass  # first writer records this host
    marker = os.path.join(root, HOST_NAME)
    assert os.path.exists(marker)

    with open(marker, "w") as fh:
        fh.write("some-other-host")
    with pytest.raises(RuntimeError, match="owned by host 'some-other-host'"):
        with writer_lock(root):
            pass

    # deliberate re-claim: delete the marker, writers work again
    os.remove(marker)
    with writer_lock(root):
        pass
    with open(marker) as fh:
        import socket

        assert fh.read().strip() == socket.gethostname()


def test_version_meta_rides_the_pointer_flip(tmp_path):
    """Atomic params+data publish (round-8 ADVICE): the parameter
    sidecar written inside a version directory is returned by
    snapshot_meta as a couple with that exact directory — and the
    RETAINED superseded snapshot keeps ITS params, so a reader pinned
    to the old snapshot can never pair old data with new params."""
    from lakehouse_dba_tools_spark.operators.indexio import (
        snapshot_meta,
        write_version_meta,
    )

    root = str(tmp_path)
    live = os.path.join(root, "bands")
    v0 = _mk_version(live, "v0")
    write_version_meta(v0, "_m.json", {"bands": 8})
    publish(live, v0)
    vd, m = snapshot_meta(live, "_m.json")
    assert vd == os.path.realpath(v0) and m == {"bands": 8}

    # "rebuild": new data + new params, one flip
    v1 = _mk_version(live, "v1")
    write_version_meta(v1, "_m.json", {"bands": 16})
    publish(live, v1)
    vd1, m1 = snapshot_meta(live, "_m.json")
    assert vd1 == os.path.realpath(v1) and m1 == {"bands": 16}
    # the retained old snapshot still self-describes with OLD params
    with open(os.path.join(v0, "_m.json")) as fh:
        import json

        assert json.load(fh) == {"bands": 8}


def test_heal_repoints_lost_pointer_at_only_version(tmp_path):
    """A crash that leaves a table's only copy as an unpointered
    version dir with the live path absent: heal() must re-point the
    symlink at it — a naive reclaim would classify it as
    never-published debris and delete the table permanently."""
    root = str(tmp_path)
    live = os.path.join(root, "bands")
    # simulate the crash state directly: a version dir, no live path
    os.makedirs(live + ".v0")
    with open(os.path.join(live + ".v0", "data.parquet"), "w") as fh:
        fh.write("only-copy")
    with writer_lock(root):
        heal(live)
    assert os.path.islink(live)
    assert _read_live(live) == "only-copy"
    assert current_version_dir(live).endswith(".v0")


def test_heal_dangling_repoints_newest_version(tmp_path):
    """Same crash class mid-history: with several version dirs and a
    lost pointer, heal() re-points the NEWEST (publishing is
    monotonic, so the newest is the last one a writer produced)."""
    root = str(tmp_path)
    live = os.path.join(root, "bands")
    for n, marker in ((0, "old"), (2, "newest"), (1, "mid")):
        d = f"{live}.v{n}"
        os.makedirs(d)
        with open(os.path.join(d, "data.parquet"), "w") as fh:
            fh.write(marker)
    with writer_lock(root):
        heal(live)
    assert current_version_dir(live).endswith(".v2")
    assert _read_live(live) == "newest"


def test_reclaim_refuses_without_pointer(tmp_path):
    """Defense in depth for the same hazard: _reclaim called with no
    live symlink (however that state arises) must delete NOTHING —
    without a pointer, debris is indistinguishable from a table whose
    publish crashed mid-flight."""
    from lakehouse_dba_tools_spark.operators.indexio import _reclaim

    root = str(tmp_path)
    live = os.path.join(root, "bands")
    os.makedirs(live + ".v0")
    with open(os.path.join(live + ".v0", "data.parquet"), "w") as fh:
        fh.write("maybe-the-only-copy")
    _reclaim(live, retain=0)
    assert os.path.exists(os.path.join(live + ".v0", "data.parquet"))


def test_all_version_dirs_enumerates_and_vacuum_shrinks_to_current(tmp_path):
    """all_version_dirs is the erasure-audit surface: it must see the
    current version, retained superseded versions, AND never-published
    debris; vacuum_versions must shrink it to exactly the current."""
    from lakehouse_dba_tools_spark.operators.indexio import (
        all_version_dirs,
        vacuum_versions,
    )

    live = str(tmp_path / "tbl")
    v0 = _mk_version(live, "v0")
    publish(live, v0)
    v1 = _mk_version(live, "v1")
    publish(live, v1)  # retains v0
    debris = live + ".v9"
    os.makedirs(debris)
    got = all_version_dirs(live)
    assert got == [v0, v1, debris]
    vacuum_versions(live)
    assert all_version_dirs(live) == [os.path.realpath(live)]
    assert os.path.basename(os.path.realpath(live)) == "tbl.v1"

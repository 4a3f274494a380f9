from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.dedup import dedup_by_key, latest_per_group
from lakehouse_dba_tools_spark.operators.flatten import flatten_all, splat_structs, with_epoch_timestamps
from lakehouse_dba_tools_spark.operators.reconcile import (
    append_with_reconcile,
    conform_to_schema,
    diff_schemas,
)
from lakehouse_dba_tools_spark.operators.sessionize import sessionize
from lakehouse_dba_tools_spark.operators.unions import schema_template, union_all
from lakehouse_dba_tools_spark.operators.upsert import merge_upsert


def test_dedup_by_key_first_and_last(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 5, "z")], "k string, ord int, v string"
    )
    first = {r.k: r.v for r in dedup_by_key(df, ["k"], ["ord"]).collect()}
    assert first == {"a": "x", "b": "z"}
    last = {r.k: r.v for r in latest_per_group(df, ["k"], "ord").collect()}
    assert last == {"a": "y", "b": "z"}


def test_splat_and_flatten(spark):
    df = spark.createDataFrame(
        [(1, {"a": 2, "b": "x"}, {"c": {"d": 3}})],
        "id int, m struct<a:int,b:string>, n struct<c:struct<d:int>>",
    )
    out = splat_structs(df, ["m"])
    assert set(out.columns) == {"id", "n", "a", "b"}
    flat = flatten_all(df)
    assert set(flat.columns) == {"id", "m_a", "m_b", "n_c_d"}
    assert flat.collect()[0].n_c_d == 3


def test_with_epoch_timestamps(spark):
    df = spark.createDataFrame([(1700000000123,)], "t_ms long")
    out = with_epoch_timestamps(df, {"t_ms": "t"}).collect()[0]
    assert out.t == dt.datetime(2023, 11, 14, 22, 13, 20, 123000)


def test_schema_reconcile_null_pads_and_drops(spark):
    dest = spark.createDataFrame([(1, "a", 2.0)], "id int, name string, score double")
    src = spark.createDataFrame([(2, "extra")], "id int, surprise string")
    d = diff_schemas(dest, src)
    assert d.matched == ["id"] and d.only_in_source == ["surprise"]
    conformed = conform_to_schema(src, dest)
    assert conformed.columns == ["id", "name", "score"]
    row = conformed.collect()[0]
    assert row.id == 2 and row.name is None and row.score is None
    appended = append_with_reconcile(dest, src)
    assert appended.count() == 2
    evolved = append_with_reconcile(dest, src, allow_new_columns=True)
    assert set(evolved.columns) == {"id", "name", "score", "surprise"}


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    source = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    got = {r.k: r.v for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_merge_upsert_dedups_source(spark):
    target = spark.createDataFrame([(1, "old", 0)], "k int, v string, ord int")
    source = spark.createDataFrame(
        [(1, "mid", 5), (1, "latest", 9)], "k int, v string, ord int"
    )
    got = merge_upsert(target, source, ["k"], source_order=["ord"]).collect()
    assert len(got) == 1 and got[0].v == "latest"


def test_partitioned_merge_rewrites_only_affected_partitions(spark, tmp_path):
    """Round-6 scale fix: a selective merge must leave untouched
    partition directories BYTE-IDENTICAL (same files, same bytes) and
    rewrite only partitions that received source rows — the
    file-pruning contract real Delta MERGE gets from its log."""
    import hashlib
    import os

    from lakehouse_dba_tools_spark.maintenance.history import read_log
    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 5) for i in range(50)], "k int, v string, p int"
    )
    created = create_or_upsert_partitioned(spark, base, path, ["k"], "p")
    assert created == [f"p={i}" for i in range(5)]

    def digest(pdir):
        h = hashlib.sha256()
        d = os.path.join(path, pdir)
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                h.update(fn.encode())
                with open(os.path.join(d, fn), "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    before = {f"p={i}": digest(f"p={i}") for i in range(5)}
    # source touches p=2 (update k=2) and a NEW partition p=7
    src = spark.createDataFrame(
        [(2, "updated", 2), (99, "inserted", 7)], "k int, v string, p int"
    )
    rewritten = create_or_upsert_partitioned(spark, src, path, ["k"], "p")
    assert rewritten == ["p=2", "p=7"]
    after = {f"p={i}": digest(f"p={i}") for i in range(5)}
    for p in ("p=0", "p=1", "p=3", "p=4"):
        assert after[p] == before[p], f"untouched partition {p} was rewritten"
    assert after["p=2"] != before["p=2"]
    # row semantics equal a full merge
    got = {r.k: (r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert len(got) == 51
    assert got[2] == ("updated", 2) and got[99] == ("inserted", 7)
    assert got[7] == ("v7", 2)  # k=7 lives in p=2, untouched by the update of k=2
    # the commit log counts rows from the partition dirs' footers: the
    # CREATE's whole table, then the MERGE's rewrite (Delta's
    # numOutputRows) — p=2's 10 rows plus the new p=7 row
    log = read_log(path)
    assert [(e["operation"], e["num_output_rows"]) for e in log] == [
        ("CREATE", 50), ("MERGE", 11),
    ]


def test_partitioned_merge_null_partition_values(spark, tmp_path):
    """Round-7 ADVICE fix: a NULL source partition value must pull the
    target's existing NULL partition into the merge (isin() alone
    never matches NULL, yet the staging rename replaces the
    __HIVE_DEFAULT_PARTITION__ dir — old NULL-partition keys would be
    silently dropped)."""
    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, "c", 1)], "k int, v string, p int"
    )
    create_or_upsert_partitioned(spark, base, path, ["k"], "p")
    # source updates k=1 in the NULL partition; k=2 must survive
    src = spark.createDataFrame([(1, "a2", None)], "k int, v string, p int")
    rewritten = create_or_upsert_partitioned(spark, src, path, ["k"], "p")
    assert rewritten == ["p=__HIVE_DEFAULT_PARTITION__"]
    got = {r.k: (r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a2", None), 2: ("b", None), 3: ("c", 1)}


def test_partitioned_merge_evaluates_source_once(spark, tmp_path):
    """The MERGE branch pins its source: the affected-partition collect,
    the uniqueness check and both arms of the merged write read one
    materialised copy, so each source row runs its lineage once."""
    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 5) for i in range(50)], "k int, v string, p int"
    )
    create_or_upsert_partitioned(spark, base, path, ["k"], "p")

    evaluated = spark.sparkContext.accumulator(0)

    def keep(k):
        evaluated.add(1)
        return True

    n = 20
    src = spark.createDataFrame(
        [(k, f"u{k}", k % 5) for k in range(0, 3 * n, 3)], "k int, v string, p int"
    ).filter(F.udf(keep, "boolean")("k"))
    create_or_upsert_partitioned(spark, src, path, ["k"], "p")
    assert evaluated.value == n
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 50 + len([k for k in range(0, 3 * n, 3) if k >= 50])
    assert got[3] == "u3" and got[4] == "v4"


@pytest.mark.parametrize(
    "dup_partitions", [(1, 1), (1, 2)], ids=["same_partition", "two_partitions"]
)
def test_partitioned_merge_rejects_duplicate_source_keys(spark, tmp_path, dup_partitions):
    """A source holding one key twice, in one partition or in two,
    raises before anything is written: the table, its files and its
    commit log are unchanged, and no staging dir is left."""
    import os

    from lakehouse_dba_tools_spark.maintenance.history import read_log
    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(9)], "k int, v string, p int"
    )
    create_or_upsert_partitioned(spark, base, path, ["k"], "p")

    def files():
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        )

    rows_before, files_before = sorted(spark.read.parquet(path).collect()), files()
    pa, pb = dup_partitions
    src = spark.createDataFrame(
        [(4, "x", pa), (4, "y", pb), (20, "z", 0)], "k int, v string, p int"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        create_or_upsert_partitioned(spark, src, path, ["k"], "p")
    assert not os.path.exists(path + "._staging")
    assert files() == files_before
    assert sorted(spark.read.parquet(path).collect()) == rows_before
    assert [e["operation"] for e in read_log(path)] == ["CREATE"]


def test_partitioned_merge_job_count(spark, tmp_path):
    """A 20-row MERGE into an existing table starts at most 8 Spark
    jobs: the affected partitions and the key-uniqueness check come
    from one action, not from a collect plus a separate duplicate-key
    pass (which cost 10 jobs here)."""
    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 5) for i in range(50)], "k int, v string, p int"
    )
    create_or_upsert_partitioned(spark, base, path, ["k"], "p")
    src = spark.createDataFrame(
        [(k, f"u{k}", k % 5) for k in range(0, 60, 3)], "k int, v string, p int"
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    create_or_upsert_partitioned(spark, src, path, ["k"], "p")
    assert dag.numTotalJobs() - before <= 8
    assert spark.read.parquet(path).count() == 50 + 3


def test_partitioned_merge_writes_one_file_per_partition(spark, tmp_path):
    """Each rewritten partition dir holds exactly one parquet file,
    however many files the target partition and the source had."""
    import os

    from lakehouse_dba_tools_spark.operators.upsert import (
        create_or_upsert_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 5) for i in range(50)], "k int, v string, p int"
    ).repartition(4)
    create_or_upsert_partitioned(spark, base, path, ["k"], "p")
    src = spark.createDataFrame(
        [(i, f"u{i}", i % 3) for i in range(0, 60, 2)], "k int, v string, p int"
    ).repartition(4)
    rewritten = create_or_upsert_partitioned(spark, src, path, ["k"], "p")
    assert rewritten == ["p=0", "p=1", "p=2"]
    for d in rewritten:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_union_fold_and_template(spark):
    a = spark.createDataFrame([(1,)], "x int")
    frames = [a, a, a, a, a]
    assert union_all(frames).count() == 5
    assert schema_template(a).count() == 0
    tagged = union_all(
        [a.withColumn("source", F.lit("one")), a.withColumn("source", F.lit("two"))]
    )
    assert {r.source for r in tagged.collect()} == {"one", "two"}


def test_sessionize_gap_boundaries(spark):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),
        (1, base + dt.timedelta(minutes=50)),  # 40min gap → new session
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = sessionize(df, gap_minutes=30.0).collect()
    sess = {(r.user_id, r.ts.minute): r.session_id for r in out}
    assert sess[(1, 0)] == 1 and sess[(1, 10)] == 1 and sess[(1, 50)] == 2
    assert sess[(2, 0)] == 1


def test_merge_upsert_raises_on_dup_source_keys(spark):
    import pytest

    from lakehouse_dba_tools_spark.operators.upsert import merge_upsert

    target = spark.createDataFrame([(1, "a")], "k int, v string")
    dup_source = spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(target, dup_source, ["k"])
    # explicit opt-outs still work
    assert merge_upsert(target, dup_source, ["k"], source_order=["v"]).count() == 1
    assert merge_upsert(target, dup_source, ["k"], validate_unique=False).count() == 2


def test_range_join_rejects_outer(spark):
    import pytest

    from lakehouse_dba_tools_spark.operators.rangejoin import range_join

    p = spark.createDataFrame([(1, 5.0)], "id int, ts double")
    iv = spark.createDataFrame([(1, 0.0, 10.0)], "iid int, s double, e double")
    with pytest.raises(ValueError, match="inner"):
        range_join(p, iv, "ts", "s", "e", how="left")


def test_scd2_null_key_rows_pass_through(spark):
    """A NULL-keyed current row must be treated as target-only (not
    misclassified via key-coalesce presence detection)."""
    from lakehouse_dba_tools_spark.operators.scd2 import OPEN_TS, scd2_merge

    target = spark.createDataFrame(
        [(None, "x", "2024-01-01 00:00:00", OPEN_TS), (1, "a", "2024-01-01 00:00:00", OPEN_TS)],
        "k int, v string, valid_from string, valid_to string",
    ).selectExpr("k", "v", "CAST(valid_from AS TIMESTAMP) valid_from", "CAST(valid_to AS TIMESTAMP) valid_to")
    source = spark.createDataFrame([(1, "b")], "k int, v string")
    out = scd2_merge(target, source, ["k"], ["v"], "2024-06-01 00:00:00").collect()
    # null-key current row passes through open; key 1 closed + reopened
    nullrows = [r for r in out if r.k is None]
    assert len(nullrows) == 1 and str(nullrows[0].valid_to).startswith("9999")
    k1 = sorted([(str(r.valid_to), r.v) for r in out if r.k == 1])
    # closed 'a' (valid_to = batch ts) sorts before the open 'b' (9999)
    assert [v for _, v in k1] == ["a", "b"]


def test_compat_alias_and_ordinal_sort(spark):
    from lakehouse_dba_tools_spark.operators.flatten import compat_alias, sort_by_ordinal

    df = spark.createDataFrame([(2, "b"), (1, "a")], "query_id int, v string")
    shim = compat_alias(df, {"queryid": "query_id"})
    assert shim.columns == ["query_id", "v", "queryid"]
    assert shim.filter("queryid = query_id").count() == 2

    srt = sort_by_ordinal(df, [1], ascending=False).collect()
    assert [r.query_id for r in srt] == [2, 1]


def test_scoped_confs_set_restore_unset(spark):
    """D15 session-conf scope: values apply inside, prior state comes
    back outside — including keys that had NO prior value (unset, so
    the session falls back to its default rather than a frozen copy)."""
    import pytest

    from lakehouse_dba_tools_spark.session import scoped_confs

    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # maxRecordsPerFile: defaulted-but-never-set key — round-11 restore
    # semantics leave it DEFAULTED on exit (unset, post-unset read
    # matches the snapshot, no re-set) instead of freezing a copy of
    # the default as an explicit value; the readable value is
    # identical either way, which is what this asserts
    prior_mrpf = spark.conf.get("spark.sql.files.maxRecordsPerFile")
    with scoped_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": "3",
            "spark.sql.files.maxRecordsPerFile": "7",
        },
    ) as s:
        assert s is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.files.maxRecordsPerFile") == "7"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior_parts
    assert spark.conf.get("spark.sql.files.maxRecordsPerFile") == prior_mrpf

    # a key with neither value nor default is UNSET again on exit
    key = "spark.graft.test.scoped_confs"
    with pytest.raises(Exception):
        spark.conf.get(key)
    with scoped_confs(spark, {key: "on"}):
        assert spark.conf.get(key) == "on"
    with pytest.raises(Exception):
        spark.conf.get(key)


def test_scoped_confs_restores_on_error(spark):
    import pytest

    from lakehouse_dba_tools_spark.session import scoped_confs

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": "5"}):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior

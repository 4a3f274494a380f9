from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.sources.json_records import normalize_bools, paged_source, records_to_df


def test_corrupt_json_records_permissive(spark, tmp_path):
    """PERMISSIVE parsing (reference S3 option set): malformed rows land
    in _corrupt_record instead of failing the job."""
    p = tmp_path / "mixed.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{not json at all}\n{"a": 2, "b": "y"}\n')
    schema = "a int, b string, _corrupt_record string"
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(str(p))
    df = df.cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1


def test_json_records_missing_fields_null_pad(spark):
    recs = [{"a": 1, "b": "x"}, {"a": 2}, {"b": "z", "c": True}]
    df = records_to_df(spark, recs, stringify_bools=True)
    rows = {r.a: (r.b, r.c) for r in df.collect()}
    assert rows[1] == ("x", None)
    assert rows[2] == (None, None)
    assert rows[None] == ("z", "true")


def test_paged_source_heterogeneous_pages_union_by_name(spark):
    """Pages whose inferred schemas differ (a column appears later) must
    union by NAME with null padding — the positional-union fragility the
    reference carries (SURVEY.md §7 risk 4)."""
    pages = [[{"a": 1}], [{"a": 2, "extra": "late"}]]
    df = paged_source(spark, iter(pages), stringify_bools=False)
    rows = sorted(df.collect(), key=lambda r: r.a)
    assert rows[0].extra is None and rows[1].extra == "late"


def test_paged_source_widens_conflicting_types_like_read_json(spark):
    """A field whose type conflicts across pages is widened the way one
    ``spark.read.json`` over the whole payload widens it, instead of
    failing at collect (a per-page parse unions a long column with a
    string one and the cast fails)."""
    import json

    pages = [[{"x": 1}], [{"x": "s"}]]
    df = paged_source(spark, iter(pages), stringify_bools=False)
    payload = [json.dumps(r) for page in pages for r in page]
    expected = spark.read.json(spark.sparkContext.parallelize(payload))
    assert df.schema == expected.schema
    assert dict(df.dtypes) == {"x": "string"}
    assert sorted(r.x for r in df.collect()) == ["1", "s"]


def test_paged_source_infers_schema_in_one_job(spark):
    """Five pages cost one schema-inference job, not one per page."""
    pages = [[{"a": p, "b": {"c": p * 10}}] for p in range(5)]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    df = paged_source(spark, iter(pages), stringify_bools=False)
    assert dag.numTotalJobs() - before == 1
    assert [f.name for f in df.schema.fields] == ["a", "b"]
    assert sorted(r.a for r in df.collect()) == [0, 1, 2, 3, 4]


def test_records_to_df_parses_like_read_json_without_python_worker(spark):
    """``records_to_df`` parses in the JVM: over a mixed payload (nested
    struct, stringified bools, a missing field, a long/string conflict)
    its schema and rows equal ``spark.read.json`` over a parallelized
    RDD of the same lines, and its physical lineage has no PythonRDD."""
    import json

    recs = [
        {"id": 1, "ok": True, "m": {"a": 1, "b": {"c": "x"}}, "v": 5},
        {"id": 2, "ok": False, "m": {"a": 2}, "v": "five"},
        {"id": 3, "m": {"b": {"c": "y"}}},
    ]
    df = records_to_df(spark, recs, stringify_bools=True)
    payload = [json.dumps(normalize_bools(r)) for r in recs]
    expected = spark.read.json(spark.sparkContext.parallelize(payload))
    assert df.schema == expected.schema
    assert dict(df.dtypes)["ok"] == "string" and dict(df.dtypes)["v"] == "string"
    got = sorted(df.collect(), key=lambda r: r.id)
    assert got == sorted(expected.collect(), key=lambda r: r.id)
    assert got[2].ok is None

    def lineage(frame):
        return frame._jdf.queryExecution().toRdd().toDebugString()

    assert "PythonRDD" in lineage(expected)
    assert "PythonRDD" not in lineage(df)


def test_empty_inputs(spark):
    from lakehouse_dba_tools_spark.dedup.minhash import with_minhash_signature, with_shingle_set
    from lakehouse_dba_tools_spark.operators.dedup import dedup_by_key
    from lakehouse_dba_tools_spark.operators.upsert import merge_upsert

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert with_minhash_signature(with_shingle_set(empty), 16).count() == 0
    e2 = spark.createDataFrame([], "k int, v string")
    assert dedup_by_key(e2, ["k"], ["v"]).count() == 0
    assert merge_upsert(e2, e2, ["k"]).count() == 0

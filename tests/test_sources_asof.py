from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.operators.asof import asof_join
from lakehouse_dba_tools_spark.sources.files import read_csv_declared, read_csv_inferred, read_csv_via_pandas
from lakehouse_dba_tools_spark.sources.json_records import normalize_bools, paged_source, records_to_df


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    tolerance=None,
) -> DataFrame:
    """pd.merge_asof per group via cogrouped applyInPandas (fallback)."""
    import pandas as pd

    out_fields = left.schema.fields + [
        f for f in right.schema.fields if f.name != on and f.name != by
    ]
    from pyspark.sql import types as T

    out_schema = T.StructType(out_fields)

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if l_pdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        l_pdf = l_pdf.sort_values(on)
        r_pdf = r_pdf.sort_values(on)
        kwargs = {"tolerance": tolerance} if tolerance is not None else {}
        return pd.merge_asof(l_pdf, r_pdf.drop(columns=[by]), on=on, **kwargs)

    return left.groupBy(by).cogroup(right.groupBy(by)).applyInPandas(merge, out_schema)


def test_normalize_bools_nested():
    rec = {"a": True, "b": {"c": False, "d": [True, {"e": False}]}, "f": 1}
    assert normalize_bools(rec) == {
        "a": "true",
        "b": {"c": "false", "d": ["true", {"e": "false"}]},
        "f": 1,
    }


def test_records_to_df_inference_and_schema(spark):
    recs = [{"x": 1, "y": "a"}, {"x": 2, "y": None}]
    df = records_to_df(spark, recs)
    assert df.count() == 2
    df2 = records_to_df(spark, recs, schema="x long, y string")
    assert [f.name for f in df2.schema.fields] == ["x", "y"]


def test_paged_source_keeps_last_page(spark):
    # the reference drops the final page (QH:187-188); we must not
    pages = [[{"v": 1}], [{"v": 2}], [{"v": 3}]]
    df = paged_source(spark, iter(pages), stringify_bools=False)
    assert sorted(r.v for r in df.collect()) == [1, 2, 3]


def test_paged_source_max_pages(spark):
    pages = ([{"v": i}] for i in range(100))
    df = paged_source(spark, pages, max_pages=7, stringify_bools=False)
    assert df.count() == 7


def test_csv_readers(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    inferred = read_csv_inferred(spark, str(p))
    assert dict(inferred.dtypes) == {"a": "int", "b": "string"}
    via_pd = read_csv_via_pandas(spark, str(p))
    assert via_pd.count() == 2

    piped = tmp_path / "t.dat"
    piped.write_text("1|foo|2024-01-02|\n2|bar|2024-01-03|\n")
    df = read_csv_declared(
        spark, str(piped), "id int, name string, d date", trailing_delimiter=True
    )
    rows = df.collect()
    assert [r.id for r in rows] == [1, 2]
    assert "_trailing" not in df.columns
    assert str(rows[0].d) == "2024-01-02"


def _asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 10.0, "p1"), (1, 20.0, "p2"), (2, 5.0, "p3")], "uid int, t double, tag string"
    )
    right = spark.createDataFrame(
        [(1, 9.0, 100.0), (1, 15.0, 200.0), (2, 6.0, 300.0)], "uid int, t double, rv double"
    )
    return left, right


def test_asof_backward_and_forward(spark):
    left, right = _asof_frames(spark)
    back = {r.tag: r.rv for r in asof_join(left, right, on="t", by=["uid"]).collect()}
    assert back == {"p1": 100.0, "p2": 200.0, "p3": None}
    fwd = {
        r.tag: r.rv
        for r in asof_join(left, right, on="t", by=["uid"], direction="forward").collect()
    }
    assert fwd == {"p1": 200.0, "p2": None, "p3": 300.0}


def test_asof_equal_ts_matches(spark):
    left = spark.createDataFrame([(1, 10.0, "p")], "uid int, t double, tag string")
    right = spark.createDataFrame([(1, 10.0, 7.0)], "uid int, t double, rv double")
    out = asof_join(left, right, on="t", by=["uid"]).collect()
    assert out[0].rv == 7.0  # backward is inclusive (<=)


def test_asof_pandas_variant_matches_composed(spark):
    left, right = _asof_frames(spark)
    composed = {(r.uid, r.t): r.rv for r in asof_join(left, right, on="t", by=["uid"]).collect()}
    pandas_out = {
        (r.uid, r.t): r.rv
        for r in asof_join_pandas(left, right, on="t", by="uid").collect()
    }
    assert composed == pandas_out

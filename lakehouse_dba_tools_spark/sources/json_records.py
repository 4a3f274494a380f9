"""In-memory JSON-records source (reference S1, S7, P12).

The reference ingests paginated REST payloads by round-tripping through
``spark.read.json(sc.parallelize(json_strings))`` with a driver-side
walk that stringifies booleans first (`tasks/Query History API to
Delta_withmetrics.py:61-69,89-96,153-204`). We keep its parser and its
schema inference but not the round trip:

- ``records_to_df``: list-of-dicts → DataFrame with inferred (or
  declared) nested schema, optional bool normalization. The JSON lines
  are held as a local Arrow-backed relation and parsed by the JVM
  reader's ``json(Dataset[String])`` overload, so the pull crosses into
  the JVM once and no pickled RDD or Python worker is involved;
- ``paged_source``: a generator-of-pages source that gathers every page
  into one record list and parses it ONCE — one schema-inference job
  and one parse lineage for the whole pull, instead of the reference's
  per-page parse and N-page-deep union chain built inside the loop
  (QH:225), which bloats the logical plan (SURVEY.md §3.1) and re-infers
  the schema per page.

The reference also drops the final page because it breaks before
parsing when ``has_next_page`` is false (QH:187-188). We process the
page first and then stop — fixed divergence, documented here.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from itertools import islice
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def normalize_bools(obj: Any) -> Any:
    """Recursively replace bools with lowercase strings (QH:61-69).

    The reference does this so JSON schema inference never sees mixed
    bool/string columns across pages.
    """
    if isinstance(obj, bool):
        return str(obj).lower()
    if isinstance(obj, dict):
        return {k: normalize_bools(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [normalize_bools(v) for v in obj]
    return obj


def records_to_df(
    spark: SparkSession,
    records: list[dict[str, Any]],
    schema: T.StructType | str | None = None,
    stringify_bools: bool = False,
) -> DataFrame:
    """Parse a list of JSON-able records into a DataFrame.

    The records become JSON lines in a local Arrow-backed relation (one
    ``value`` string column), which ``spark.read.json`` parses as a
    ``Dataset[String]`` — the same reader, options and inference as the
    reference's ``spark.read.json(sc.parallelize(...))`` (QH:96), with
    no Python worker on the path. With ``schema=None`` inference is one
    Spark job; columns come in alphabetical order, a field missing from
    a record reads as null, and conflicting types widen (long + string
    → string). Prefer passing a declared schema in production —
    inference scans the data twice and is sensitive to missing/None-only
    fields. An empty record list needs ``schema`` and yields an empty
    frame of it.
    """
    if stringify_bools:
        records = [normalize_bools(r) for r in records]
    if not records:
        if schema is None:
            raise ValueError("empty record set requires an explicit schema")
        return spark.createDataFrame([], schema)
    lines = spark.createDataFrame(
        pa.table({"value": [json.dumps(r) for r in records]}), "value string"
    )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    # The JVM reader's json(Dataset[String]) overload: PySpark's own
    # json() takes only paths and RDDs.
    return reader._df(
        reader._jreader.json(getattr(lines._jdf, "as")(spark._jvm.Encoders.STRING()))
    )


def paged_source(
    spark: SparkSession,
    pages: Iterable[list[dict[str, Any]]],
    schema: T.StructType | str | None = None,
    stringify_bools: bool = True,
    max_pages: int = 500,
    flatten: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Drain a page iterator into one DataFrame (reference S7 rebuilt).

    ``pages`` stands in for the REST pagination loop — any generator
    yielding lists of records (an HTTP client, a file tailer, a fixture).
    At most ``max_pages`` pages are drained, and the final page is never
    dropped. The non-empty pages are parsed together by one
    ``records_to_df`` call, so the contract is that of one
    ``spark.read.json`` over the whole payload:

    - schema inference runs once (one Spark job) over every record;
    - with an inferred schema, columns come in inferred (alphabetical)
      order, and a field missing from some records is null there;
    - a field whose type differs across pages is widened the way
      ``spark.read.json`` widens it (e.g. long + string → string)
      instead of failing at collect.

    ``flatten`` is applied once, to the combined frame.
    """
    records = [r for page in islice(pages, max_pages) for r in page]
    if not records and schema is None:
        raise ValueError("no pages and no schema")
    df = records_to_df(spark, records, schema=schema, stringify_bools=stringify_bools)
    return flatten(df) if flatten is not None else df

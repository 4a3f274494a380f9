"""Spark jobs started by each verb of the three persisted indexes.

Builds an LSH, a BM25 and an IVF index over the seeded 2,000-doc corpus
of the benchmark's ``lsh_lifecycle`` workload (``perfbench/``'s
``DocFeed(1)``; 2,000 seeded 16-d vectors for IVF), then runs the same
lifecycle on each: two 100-row appends, a compact, a 5-id forget and a
third append. BM25 is built with ``champion_n=10, wand_buckets=8`` and
queried once in each of its three modes after the forget; LSH and IVF
are queried once after the forget too, and rebuilt after the third
append (LSH re-banded from 16 to 8 bands, IVF re-trained). Around every
verb it reads ``dagScheduler().numTotalJobs()``, so each count is the
number of Spark jobs the verb started (a query's count includes its
``collect``).

Job counts do not depend on host load; the wall seconds printed beside
them do. Prints one JSON object: {family: {verb: {"jobs", "s"}}}.

    python tools/index_job_counts.py > counts.json

It runs at ``local[4]`` unless ``SPARK_GRAFT_CPUS`` says otherwise.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORPUS_SEED = 1
BATCH = 100
FORGET = 5
DIM = 16


def _counter(spark):
    sc = spark.sparkContext._jsc.sc()
    out: dict[str, dict] = {}

    def run(name, fn):
        before = sc.dagScheduler().numTotalJobs()
        t0 = time.perf_counter()
        fn()
        out[name] = {
            "jobs": sc.dagScheduler().numTotalJobs() - before,
            "s": round(time.perf_counter() - t0, 3),
        }

    return out, run


def lsh_counts(spark, feed, root):
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        compact_lsh_index,
        forget_from_lsh_index,
        ingest_batch,
        query_lsh_index,
        rebuild_lsh_index,
    )

    schema = "doc_id long, text string"
    path = os.path.join(root, "lsh")
    batches = [spark.createDataFrame(feed.ingest_batch(), schema) for _ in range(3)]
    query = spark.createDataFrame(feed.query_batch(0), schema)
    forget = spark.createDataFrame([(i,) for i in feed.forget_ids()], "doc_id long")
    out, run = _counter(spark)
    run("build", lambda: build_lsh_index(spark.createDataFrame(feed.corpus, schema), path))
    run("ingest_1", lambda: ingest_batch(spark, batches[0], path).collect())
    run("ingest_2", lambda: ingest_batch(spark, batches[1], path).collect())
    run("compact", lambda: compact_lsh_index(spark, path))
    run("forget", lambda: forget_from_lsh_index(spark, path, forget))
    run("query", lambda: query_lsh_index(spark, query, path).collect())
    run("ingest_3", lambda: ingest_batch(spark, batches[2], path).collect())
    run("rebuild", lambda: rebuild_lsh_index(spark, path, bands=8))
    return out


def bm25_counts(spark, feed, root):
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        append_to_postings_index,
        build_postings_index,
        compact_postings_index,
        forget_from_postings_index,
        query_postings_index,
    )

    schema = "doc_id long, text string"
    path = os.path.join(root, "bm25")
    batches = [spark.createDataFrame(feed.ingest_batch(), schema) for _ in range(3)]
    forget = spark.createDataFrame([(i,) for i in feed.forget_ids()], "doc_id long")
    # three words of one surviving corpus doc: every mode has hits
    q = " ".join(feed.corpus[1][1].split()[:3])
    out, run = _counter(spark)
    run("build", lambda: build_postings_index(
        spark.createDataFrame(feed.corpus, schema), path, champion_n=10, wand_buckets=8))
    run("append_1", lambda: append_to_postings_index(batches[0], path))
    run("append_2", lambda: append_to_postings_index(batches[1], path))
    run("compact", lambda: compact_postings_index(spark, path))
    run("forget", lambda: forget_from_postings_index(spark, path, forget))
    for mode in ("exact", "champions", "wand"):
        run(f"query_{mode}", lambda mode=mode: query_postings_index(
            spark, path, q, k=10, mode=mode).collect())
    run("append_3", lambda: append_to_postings_index(batches[2], path))
    return out


def ivf_counts(spark, n_docs, root):
    import numpy as np

    from lakehouse_dba_tools_spark.similarity.index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        forget_from_ivf_index,
        query_ivf_index,
        rebuild_ivf_index,
    )

    rng = np.random.default_rng(CORPUS_SEED)
    schema = "vec_id long, embedding array<double>"

    def vecs(first, n):
        return spark.createDataFrame(
            [(first + i, rng.standard_normal(DIM).tolist()) for i in range(n)], schema
        )

    path = os.path.join(root, "ivf")
    corpus = vecs(0, n_docs)
    batches = [vecs(n_docs + j * BATCH, BATCH) for j in range(3)]
    probe = vecs(10 * n_docs, 5).withColumnRenamed("vec_id", "query_id")
    forget = spark.createDataFrame([(i,) for i in range(0, 10 * FORGET, 10)], "vec_id long")
    out, run = _counter(spark)
    run("build", lambda: build_ivf_index(corpus, path, n_centroids=8))
    run("append_1", lambda: append_to_ivf_index(batches[0], path))
    run("append_2", lambda: append_to_ivf_index(batches[1], path))
    run("compact", lambda: compact_ivf_index(spark, path))
    run("forget", lambda: forget_from_ivf_index(spark, path, forget))
    run("query", lambda: query_ivf_index(spark, probe, path, k=5, nprobe=2).collect())
    run("append_3", lambda: append_to_ivf_index(batches[2], path))
    run("rebuild", lambda: rebuild_ivf_index(spark, path))
    return out


def main() -> int:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from lsh_lifecycle import CORPUS_DOCS, DocFeed

    from lakehouse_dba_tools_spark import get_session

    spark = get_session(app_name="index-job-counts")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with tempfile.TemporaryDirectory() as root:
            result = {
                "lsh": lsh_counts(spark, DocFeed(CORPUS_SEED), root),
                "bm25": bm25_counts(spark, DocFeed(CORPUS_SEED), root),
                "ivf": ivf_counts(spark, CORPUS_DOCS, root),
            }
    finally:
        spark.stop()
    print(json.dumps(result, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

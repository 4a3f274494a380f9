"""Persisted-index lifecycle scale evidence: the round-8 analog of
tools/dedup_scale_run.py, focused on the INDEX operations themselves.

At two corpus scales (5k docs — the sf0.1 bench size — and 50k, 10×),
measures the whole lifecycle with a fixed-size ingest batch (500 docs,
the daily-increment shape):

- build wall (one-time; expected ~linear in corpus)
- ingest_batch wall (sign-once query+append; the 100 TB claim is that
  this depends on |batch| + matched candidates, NOT on corpus size —
  the stored corpus is only touched through the band join and the
  candidate-id semi-join)
- compact wall (expected ~linear in corpus — it rewrites the index)
- describe_index row/file counts before/after compact (small-file
  control evidence)

Usage: python tools/index_scale_run.py [out.json]
Timings min-of-N (SCALE_RUN_PASSES, default 2); shared noisy host —
compare ratios, not absolutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.dedup_scale_run import synth_docs  # noqa: E402


def run_scale(spark, n: int, passes: int) -> dict:
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        compact_lsh_index,
        ingest_batch,
    )
    from lakehouse_dba_tools_spark.operators.indexio import describe_index

    corpus = synth_docs(spark, n)
    # fixed-size ingest batch: new ids beyond the corpus, 10% of them
    # EXACT duplicates of corpus docs (the synth token function is
    # pure in (id, pos), so generating text from a corpus id
    # reproduces that doc) — the verify leg has real matches to fetch
    tok = lambda seed_col, p: F.concat(
        F.lit("w"), (F.abs(F.xxhash64(seed_col, F.lit(p))) % 500).cast("string")
    )
    src = F.when(F.col("id") % 10 == 1, F.col("id") * 7 % n).otherwise(
        F.col("id") + n
    )
    batch = spark.range(500).select(
        (F.col("id") + n).alias("doc_id"),
        F.concat_ws(" ", *[tok(src, p) for p in range(30)]).alias("text"),
    )

    out: dict = {"n_docs": n, "batch_docs": 500}
    best = {"build": None, "ingest": None, "compact": None}
    for _ in range(passes):
        tmp = tempfile.mkdtemp(prefix="idx_scale_")
        try:
            path = os.path.join(tmp, "idx")
            t = time.time()
            build_lsh_index(corpus, path)
            el = time.time() - t
            best["build"] = el if best["build"] is None else min(best["build"], el)

            t = time.time()
            pairs = ingest_batch(spark, batch, path, threshold=0.5)
            n_pairs = pairs.count()
            el = time.time() - t
            best["ingest"] = el if best["ingest"] is None else min(best["ingest"], el)

            pre = describe_index(path, ("bands", "shash"))
            t = time.time()
            compact_lsh_index(spark, path)
            el = time.time() - t
            best["compact"] = (
                el if best["compact"] is None else min(best["compact"], el)
            )
            post = describe_index(path, ("bands", "shash"))
            out["n_pairs"] = n_pairs
            out["files_pre_compact"] = {d["table"]: d["n_files"] for d in pre}
            out["files_post_compact"] = {d["table"]: d["n_files"] for d in post}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    out.update(
        {
            "build_sec": round(best["build"], 2),
            "ingest_batch_sec": round(best["ingest"], 2),
            "compact_sec": round(best["compact"], 2),
        }
    )
    return out


def main() -> None:
    from lakehouse_dba_tools_spark import get_session

    passes = int(os.environ.get("SCALE_RUN_PASSES", "2"))
    spark = get_session(app_name="index-scale-run")
    if os.environ.get("SCALE_RUN_FORGET_ONLY"):
        # round-12 forget-vs-compact evidence without re-running the
        # whole battery. SCALE_RUN_FORGET_100X adds the 500k-doc tier
        # (round-13 VERDICT directive #3): builds are minutes there, so
        # the default stops at 10×.
        tiers = [5_000, 50_000]
        if os.environ.get("SCALE_RUN_FORGET_100X"):
            tiers.append(500_000)
        forget = [run_forget_scale(spark, n, passes) for n in tiers]
        labels = ["1x", "10x", "100x"][: len(forget)]
        ratios: dict = {}
        for fam in ("lsh", "bm25", "ivf"):
            for lab, tier in zip(labels, forget):
                ratios[f"{fam}_{lab}"] = round(
                    tier[f"{fam}_forget_sec"] / tier[f"{fam}_compact_sec"], 2
                )
        summary = {"forget": forget, "forget_over_compact": ratios}
        line = json.dumps(summary)
        print(line)
        if len(sys.argv) > 1:
            with open(sys.argv[1], "w") as fh:
                fh.write(line + "\n")
        return
    results = [run_scale(spark, n, passes) for n in (5_000, 50_000)]
    a, b = results
    ivf = [run_ivf_scale(spark, 5_000, 16, passes),
           run_ivf_scale(spark, 50_000, 160, passes)]
    # Optional 100× point (build is ~3-4 min): nlist ∝ N holds list
    # size constant, so the query-side claim is "flat beyond probe
    # saturation" — the 1×→10× ratio is inflated by the tiny baseline
    # (a 20-query × nprobe=4 batch can only probe 16 lists at 1× but
    # ~66 of 160 at 10×; breadth is CAPPED at 80 lists forever, so
    # 10×→100× is the honest unit). Measured 2026-08-15: 10×→100×
    # query 2.94s→3.13s (1.06×) with the targeted scan vs 5.66s for a
    # full-listing scan over 1600 cid dirs (SCALE.md round 9).
    if os.environ.get("SCALE_RUN_IVF_100X"):
        ivf.append(run_ivf_scale(spark, 500_000, 1600, passes))
    bm25 = [run_bm25_scale(spark, 5_000, passes),
            run_bm25_scale(spark, 50_000, passes)]
    wand = [run_bm25_wand_scale(spark, 5_000, passes),
            run_bm25_wand_scale(spark, 50_000, passes)]
    # Optional 100× point (build is minutes — ~30M postings): buckets
    # keep scaling ∝ N (docs-per-bucket held ~4), so the sublinearity
    # claim at 100× is the postings-scanned FRACTION holding or
    # shrinking while exact-path cost grows with df ∝ N.
    if os.environ.get("SCALE_RUN_WAND_100X"):
        wand.append(run_bm25_wand_scale(spark, 500_000, passes))
    summary = {
        "lsh": results,
        "ratios_10x_corpus": {
            "build": round(b["build_sec"] / a["build_sec"], 2),
            "ingest_batch": round(b["ingest_batch_sec"] / a["ingest_batch_sec"], 2),
            "compact": round(b["compact_sec"] / a["compact_sec"], 2),
            "ivf_query_fixed_list_size": round(
                ivf[1]["query_sec"] / ivf[0]["query_sec"], 2),
            "ivf_single_query": round(
                ivf[1]["single_query_sec"] / ivf[0]["single_query_sec"], 2),
            "bm25_rare_term_query": round(
                bm25[1]["rare_query_sec"] / bm25[0]["rare_query_sec"], 2),
            "bm25_common_term_query": round(
                bm25[1]["common_query_sec"] / bm25[0]["common_query_sec"], 2),
            "bm25_common_term_champions": round(
                bm25[1]["common_champions_query_sec"]
                / bm25[0]["common_champions_query_sec"], 2),
            "bm25_wand_common_term": round(
                wand[1]["wand_common_sec"] / wand[0]["wand_common_sec"], 2),
            "bm25_wand_multi_term": round(
                wand[1]["wand_multi_sec"] / wand[0]["wand_multi_sec"], 2),
            "bm25_wand_common_postings_scanned": round(
                wand[1]["common_postings_kept"] / wand[0]["common_postings_kept"],
                2),
            "bm25_wand_multi_postings_scanned": round(
                wand[1]["multi_postings_kept"] / wand[0]["multi_postings_kept"],
                2),
        },
        "ivf": ivf,
        "bm25": bm25,
        "bm25_wand_zipf": wand,
    }
    line = json.dumps(summary)
    print(line)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as fh:
            fh.write(line + "\n")


def synth_zipf_docs(spark, n: int, vocab: int = 2000, max_len: int = 100):
    """Deterministic ZIPF-distributed corpus — the regime impact-ordered
    and block-max indexes are designed for (the flat-tf `synth_docs`
    fixture is adversarial for them: uniform tf ties every impact and
    measures nothing — the round-9 SCALE.md honesty note).

    Per token position, a log-uniform rank r = floor(vocab^u) with u
    uniform on (0,1] gives P(rank = r) ∝ ln((r+1)/r) ≈ 1/r — Zipf s≈1,
    so 't1' is stopword-grade (df ≈ corpus) with heavy per-doc tf skew,
    mid ranks are discriminative, and the tail is rare. Doc lengths
    vary 20..99 (length-norm skew). Pure column expressions keyed by
    xxhash64(id, pos): nothing staged, reproducible at any scale."""
    dl = (F.abs(F.xxhash64(F.col("id"), F.lit(-7))) % (max_len - 20) + 20).cast("int")
    def tok(p: int):
        u = (F.abs(F.xxhash64(F.col("id"), F.lit(p))) % 1_000_000 + 1) / 1_000_000.0
        rank = F.floor(F.pow(F.lit(float(vocab)), u)).cast("long")
        return F.concat(F.lit("t"), rank.cast("string"))
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.slice(F.array(*[tok(p) for p in range(max_len)]), 1, dl))
        .alias("text"),
    )


def synth_vectors(spark, n: int, dim: int = 64):
    """Deterministic unit-ish vectors: dim values from xxhash64(id, d)
    mapped to [-1, 1]. Pure column expressions, no data staged."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    (F.abs(F.xxhash64(F.col("id"), F.lit(d))) % 2001).cast(
                        "double"
                    )
                    / 1000.0
                    - 1.0
                )
                for d in range(dim)
            ]
        ).alias("embedding"),
    )


def run_ivf_scale(spark, n: int, n_centroids: int, passes: int) -> dict:
    """IVF at corpus n with nlist scaled ∝ N (constant list size — the
    production law: query cost is O(nprobe × list_size), so holding
    list size fixes per-query cost as the corpus grows)."""
    from lakehouse_dba_tools_spark.similarity.index import (
        build_ivf_index,
        query_ivf_index,
    )

    corpus = synth_vectors(spark, n)
    queries = synth_vectors(spark, 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = {"n_vectors": n, "n_centroids": n_centroids, "nprobe": 4}
    best = {"build": None, "query": None, "query1": None}
    for _ in range(passes):
        tmp = tempfile.mkdtemp(prefix="ivf_scale_")
        try:
            path = os.path.join(tmp, "ivf")
            t = time.time()
            build_ivf_index(corpus, path, n_centroids=n_centroids, seed=42)
            el = time.time() - t
            best["build"] = el if best["build"] is None else min(best["build"], el)
            t = time.time()
            n_rows = query_ivf_index(spark, queries, path, k=5, nprobe=4).count()
            el = time.time() - t
            best["query"] = el if best["query"] is None else min(best["query"], el)
            # the per-QUERY unit: one query probes exactly nprobe lists
            # at every scale (constant breadth and bytes under the
            # nlist ∝ N law) — the 20-query batch above saturates a
            # small baseline's list count, inflating its 1×→10× ratio
            t = time.time()
            query_ivf_index(spark, queries.limit(1), path, k=5, nprobe=4).count()
            el = time.time() - t
            best["query1"] = el if best["query1"] is None else min(best["query1"], el)
            out["result_rows"] = n_rows
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    out["build_sec"] = round(best["build"], 2)
    out["query_sec"] = round(best["query"], 2)
    out["single_query_sec"] = round(best["query1"], 2)
    return out


def run_bm25_scale(spark, n: int, passes: int) -> dict:
    """BM25 postings at corpus n: a RARE-term query (df fixed at 20
    planted docs regardless of corpus — the skip-index claim: cost
    tracks matching postings, not corpus) vs a COMMON-term query
    (df ∝ N — posting-list length is the honest lower bound for the
    EXACT path) vs the same common-term query through the CHAMPIONS
    tier (impact-ordered top-champion_n per term — the sublinear path:
    cost bounded by the tier, independent of df)."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        build_postings_index,
        query_postings_index,
    )

    base = synth_docs(spark, n)
    docs = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % (n // 20) == 3,
            F.concat(F.col("text"), F.lit(" zebrafrost glacierworm")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = {"n_docs": n, "champion_n": 64}
    best = {"build": None, "rare": None, "common": None, "champ": None}
    for _ in range(passes):
        tmp = tempfile.mkdtemp(prefix="bm25_scale_")
        try:
            path = os.path.join(tmp, "bm25")
            t = time.time()
            build_postings_index(docs, path, champion_n=64)
            el = time.time() - t
            best["build"] = el if best["build"] is None else min(best["build"], el)
            t = time.time()
            out["rare_rows"] = query_postings_index(
                spark, path, "zebrafrost glacierworm", k=10
            ).count()
            el = time.time() - t
            best["rare"] = el if best["rare"] is None else min(best["rare"], el)
            t = time.time()
            out["common_rows"] = query_postings_index(
                spark, path, "w1 w2 w3", k=10
            ).count()
            el = time.time() - t
            best["common"] = (
                el if best["common"] is None else min(best["common"], el)
            )
            t = time.time()
            out["champ_rows"] = query_postings_index(
                spark, path, "w1 w2 w3", k=10, mode="champions"
            ).count()
            el = time.time() - t
            best["champ"] = el if best["champ"] is None else min(best["champ"], el)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    out["build_sec"] = round(best["build"], 2)
    out["rare_query_sec"] = round(best["rare"], 2)
    out["common_query_sec"] = round(best["common"], 2)
    out["common_champions_query_sec"] = round(best["champ"], 2)
    return out


def run_forget_scale(spark, n: int, passes: int) -> dict:
    """Right-to-be-forgotten wall at corpus n for all three families,
    with a FIXED 500-id forget set (the GDPR-request shape: requests
    do not grow with the corpus) — benchmarked against the SAME
    index's compact wall, the claimed cost class: both verbs are one
    locked full-table rewrite (filtered vs folded) behind a
    single-flip publish, so forget ≈ compact at every scale is the
    evidence that the verb survives 100 TB on the compact cadence.
    BM25 builds with the champions tier so the forget wall INCLUDES
    the tier refresh (the fresh-build-equality step); IVF holds list
    size constant (nlist ∝ N, the production law)."""
    from lakehouse_dba_tools_spark.dedup.index import (
        build_lsh_index,
        compact_lsh_index,
        forget_from_lsh_index,
    )
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        build_postings_index,
        compact_postings_index,
        forget_from_postings_index,
    )
    from lakehouse_dba_tools_spark.similarity.index import (
        build_ivf_index,
        compact_ivf_index,
        forget_from_ivf_index,
    )

    docs = synth_docs(spark, n)
    stride = max(1, n // 500)
    doc_ids = spark.range(500).select((F.col("id") * stride).alias("doc_id"))
    vecs = synth_vectors(spark, n)
    vec_ids = spark.range(500).select((F.col("id") * stride).alias("vec_id"))
    n_cents = max(16, (n // 5_000) * 16)

    out: dict = {"n_docs": n, "forget_ids": 500, "n_centroids": n_cents}
    best: dict = {}

    def _best(key, fn):
        t = time.time()
        r = fn()
        el = time.time() - t
        best[key] = el if best.get(key) is None else min(best[key], el)
        return r

    for _ in range(passes):
        tmp = tempfile.mkdtemp(prefix="forget_scale_")
        try:
            lsh = os.path.join(tmp, "lsh")
            build_lsh_index(docs, lsh)
            _best("lsh_compact", lambda: compact_lsh_index(spark, lsh))
            rep = _best(
                "lsh_forget", lambda: forget_from_lsh_index(spark, lsh, doc_ids)
            )
            out["lsh_removed"] = rep["shash"]["rows_removed"]

            bm = os.path.join(tmp, "bm25")
            build_postings_index(docs, bm, champion_n=64)
            _best("bm25_compact", lambda: compact_postings_index(spark, bm))
            rep = _best(
                "bm25_forget",
                lambda: forget_from_postings_index(spark, bm, doc_ids),
            )
            out["bm25_removed"] = rep["postings"]["rows_removed"]

            ivf = os.path.join(tmp, "ivf")
            build_ivf_index(vecs, ivf, n_centroids=n_cents, seed=42)
            _best("ivf_compact", lambda: compact_ivf_index(spark, ivf))
            rep = _best(
                "ivf_forget", lambda: forget_from_ivf_index(spark, ivf, vec_ids)
            )
            out["ivf_removed"] = rep["rows_removed"]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    for k, v in best.items():
        out[f"{k}_sec"] = round(v, 2)
    return out


def run_bm25_wand_scale(spark, n: int, passes: int) -> dict:
    """Block-Max WAND on the Zipf fixture — the regime the tier is FOR
    (the flat-tf synth_docs corpus ties every impact and prunes
    nothing; measuring it would repeat the round-9 champions mistake).
    Buckets scale ∝ N (docs-per-bucket held at ~4, the production
    law: the planner's per-bucket collect is bounded by bucket count,
    pruning power by docs-per-bucket). Reports wall AND the fraction
    of matching postings the exact scorer would scan that wand
    actually scans — wall has a fixed multi-job floor at these corpus
    sizes; the postings fraction is the clean sublinearity signal."""
    from lakehouse_dba_tools_spark.similarity.bm25 import (
        _wand_plan,
        build_postings_index,
        query_postings_index,
    )

    docs = synth_zipf_docs(spark, n)
    buckets = max(64, n // 4)
    common_q, multi_q = "t1", "t1 t3 t9"
    out = {"n_docs": n, "wand_buckets": buckets}
    best = {"build": None, "exact_c": None, "wand_c": None,
            "exact_m": None, "wand_m": None}

    def _best(key, fn):
        t = time.time()
        r = fn()
        el = time.time() - t
        best[key] = el if best[key] is None else min(best[key], el)
        return r

    for _ in range(passes):
        tmp = tempfile.mkdtemp(prefix="bm25_wand_scale_")
        try:
            path = os.path.join(tmp, "bm25")
            _best("build", lambda: build_postings_index(
                docs, path, wand_buckets=buckets))
            out["exact_common_rows"] = _best("exact_c", lambda: query_postings_index(
                spark, path, common_q, k=10).count())
            out["wand_common_rows"] = _best("wand_c", lambda: query_postings_index(
                spark, path, common_q, k=10, mode="wand").count())
            out["exact_multi_rows"] = _best("exact_m", lambda: query_postings_index(
                spark, path, multi_q, k=10).count())
            out["wand_multi_rows"] = _best("wand_m", lambda: query_postings_index(
                spark, path, multi_q, k=10, mode="wand").count())
            pc = _wand_plan(spark, path, common_q, 10, None, None)
            pm = _wand_plan(spark, path, multi_q, 10, None, None)
            out["common_postings_kept"] = pc["postings_kept"]
            out["common_postings_total"] = pc["postings_total"]
            out["multi_postings_kept"] = pm["postings_kept"]
            out["multi_postings_total"] = pm["postings_total"]
            # direct-planner-caller contract (bm25.py): large-kept plans
            # hand back their persisted per-bucket frame — release it,
            # or each measurement pass leaks one cached frame (ADVICE)
            for plan in (pc, pm):
                pb = plan.pop("_per_bucket", None)
                if pb is not None:
                    pb.unpersist()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    out.update(
        {
            "build_sec": round(best["build"], 2),
            "exact_common_sec": round(best["exact_c"], 2),
            "wand_common_sec": round(best["wand_c"], 2),
            "exact_multi_sec": round(best["exact_m"], 2),
            "wand_multi_sec": round(best["wand_m"], 2),
            "common_scan_frac": round(
                out["common_postings_kept"] / max(1, out["common_postings_total"]),
                4,
            ),
            "multi_scan_frac": round(
                out["multi_postings_kept"] / max(1, out["multi_postings_total"]), 4
            ),
        }
    )
    return out


if __name__ == "__main__":
    main()

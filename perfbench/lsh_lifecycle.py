"""lsh_lifecycle: the near-duplicate index under continuous ingest.

Set-up builds the MinHash-LSH index over a seeded corpus. Each step
ingests a batch (write op ``ingest_batch``) and queries another (read
op ``query_lsh_index``); every second step also compacts the index and
then forgets a few ids (write ops ``compact`` and ``forget``), so cost moved
from ingest into maintenance shows. Many small driver-driven jobs,
``overlap_jobs`` threads, persist pins and versioned publish; no
upsert and no SQL planning.
"""

from __future__ import annotations

import os
import random
import string

from lakehouse_dba_tools_spark.dedup.index import (
    build_lsh_index,
    compact_lsh_index,
    forget_from_lsh_index,
    ingest_batch,
    query_lsh_index,
)

from common import CORES, busy_ratio, per_call, span_seconds, tree_bytes

CORPUS_DOCS = 2000
INGEST_DOCS = 100
QUERY_DOCS = 50
PLANTED_SHARE = 0.2
WORDS_PER_DOC = 40
VOCAB = 4000
K = 3  # word shingle length the index uses by default
THRESHOLD = 0.5
JACCARD_DIGITS = 6  # the index reports Jaccard rounded to this many places
MAINTAIN_EVERY = 2
FORGET_PER_STEP = 5
QUERY_ID_BASE = 10_000_000
SCHEMA = "doc_id long, text string"


def shingles(text: str) -> set[str]:
    toks = text.split()
    if len(toks) < K:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + K]) for i in range(len(toks) - K + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class DocFeed:
    """Seeded documents. Planted near-duplicates copy an indexed doc and
    swap one or two words. Forgotten ids come from the initial corpus
    ids divisible by 10, which are never planted sources, so recall is
    measured only on pairs whose source stays indexed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = sorted({
            "".join(self.rng.choices(string.ascii_lowercase, k=self.rng.randint(3, 9)))
            for _ in range(VOCAB)
        })
        self.texts: dict[int, str] = {}
        self.sources: list[int] = []  # indexed ids a planted copy may copy
        self.forgettable = list(range(0, CORPUS_DOCS, 10))
        self.forgotten: set[int] = set()
        self.planted: set[tuple[int, int]] = set()
        self.next_id = 0
        self.corpus = [self._new(self._random_text()) for _ in range(CORPUS_DOCS)]
        self.indexed(self.corpus)

    def _random_text(self) -> str:
        return " ".join(self.rng.choices(self.vocab, k=WORDS_PER_DOC))

    def _new(self, text: str, doc_id: int | None = None) -> tuple[int, str]:
        if doc_id is None:
            doc_id = self.next_id
            self.next_id += 1
        self.texts[doc_id] = text
        return doc_id, text

    def indexed(self, docs) -> None:
        """Mark docs as indexed, so later planted copies may copy them."""
        self.sources.extend(i for i, _ in docs if not (i < CORPUS_DOCS and i % 10 == 0))

    def _batch(self, n: int, first_id: int | None) -> list[tuple[int, str]]:
        out = []
        planted = set(self.rng.sample(range(n), round(n * PLANTED_SHARE)))
        for j in range(n):
            doc_id = None if first_id is None else first_id + j
            if j in planted:
                src = self.rng.choice(self.sources)
                words = self.texts[src].split()
                for pos in self.rng.sample(range(WORDS_PER_DOC), self.rng.randint(1, 2)):
                    words[pos] = self.rng.choice(self.vocab)
                doc = self._new(" ".join(words), doc_id)
                self.planted.add((doc[0], src))
            else:
                doc = self._new(self._random_text(), doc_id)
            out.append(doc)
        return out

    def ingest_batch(self) -> list[tuple[int, str]]:
        return self._batch(INGEST_DOCS, None)

    def query_batch(self, step: int) -> list[tuple[int, str]]:
        return self._batch(QUERY_DOCS, QUERY_ID_BASE + step * QUERY_DOCS)

    def forget_ids(self) -> list[int]:
        ids, self.forgettable = self.forgettable[:FORGET_PER_STEP], self.forgettable[FORGET_PER_STEP:]
        return ids


class Workload:
    name = "lsh_lifecycle"
    # Seconds one step takes on a 4-core host; sets the step count.
    nominal_step_s = 9.0

    def __init__(self, spark, seed: int, root: str, tracer, oplog):
        self.spark, self.seed, self.root = spark, seed, root
        self.tracer, self.oplog = tracer, oplog
        self.pairs: list[tuple[int, int, float, frozenset]] = []

    def _df(self, docs):
        return self.spark.createDataFrame(docs, SCHEMA)

    def setup(self, rep: int) -> None:
        """Seeded corpus and ``build_lsh_index`` into a fresh directory;
        the last repetition is the one used."""
        self.feed = DocFeed(self.seed)
        self.path = os.path.join(self.root, f"setup{rep}", "lsh")
        corpus = self._df(self.feed.corpus)
        with self.tracer.span("dedup.build"):
            build_lsh_index(corpus, self.path)

    def _pairs(self, name: str, fn):
        """Run a pair-reporting call inside its layer span and collect."""
        with self.tracer.span(name):
            return fn().collect()

    def _query(self, query):
        """``query_lsh_index`` with its sign pass pinned for the one
        collect, released afterwards (the documented loop-caller form)."""
        caches = []
        try:
            return self._pairs("dedup.query", lambda: query_lsh_index(
                self.spark, query, self.path, threshold=THRESHOLD, caches=caches))
        finally:
            for df in caches:
                df.unpersist()

    def _record(self, rows) -> None:
        """Keep each pair with the ids forgotten when it was reported."""
        gone = frozenset(self.feed.forgotten)
        self.pairs.extend((r["id_a"], r["id_b"], r["jaccard"], gone) for r in rows)

    def _maintain(self) -> None:
        span, run = self.tracer.span, self.oplog.run

        def compact():
            with span("dedup.compact"):
                return compact_lsh_index(self.spark, self.path)

        run("compact", "write", compact)
        ids = self.feed.forget_ids()
        forget_df = self.spark.createDataFrame([(d,) for d in ids], "doc_id long")

        def forget():
            with span("dedup.forget"):
                return forget_from_lsh_index(self.spark, self.path, forget_df)

        if run("forget", "write", forget) is not None:
            self.feed.forgotten.update(ids)

    def step(self, i: int) -> None:
        feed, run = self.feed, self.oplog.run
        docs = feed.ingest_batch()
        batch = self._df(docs)
        rows = run("ingest_batch", "write", lambda: self._pairs(
            "dedup.ingest", lambda: ingest_batch(self.spark, batch, self.path, threshold=THRESHOLD)))
        if rows is not None:
            self._record(rows)
            feed.indexed(docs)
        query = self._df(feed.query_batch(i))
        rows = run("query_lsh_index", "read", lambda: self._query(query))
        if rows is not None:
            self._record(rows)
        if i % MAINTAIN_EVERY == MAINTAIN_EVERY - 1:
            self._maintain()

    def check(self) -> list[str]:
        """Every reported pair's Jaccard, recomputed here from the
        generated texts, matches the reported value and clears the
        threshold; no pair names an id forgotten before it was reported."""
        errors = []
        texts = self.feed.texts
        tol = 0.5 * 10**-JACCARD_DIGITS + 1e-12
        for a, b, j, gone in self.pairs:
            want = jaccard(texts[a], texts[b])
            if abs(want - j) > tol or want < THRESHOLD:
                errors.append(f"lsh_lifecycle: pair ({a}, {b}) reports {j}, recomputed {want}")
            if a in gone or b in gone:
                errors.append(f"lsh_lifecycle: pair ({a}, {b}) names a forgotten id")
        if not self.pairs:
            errors.append("lsh_lifecycle: no pairs reported")
        return errors[:20]

    def layer_metrics(self) -> dict:
        t = self.tracer
        ingest, query = t.timed("dedup.ingest"), t.timed("dedup.query")
        compact, forget = t.timed("dedup.compact"), t.timed("dedup.forget")
        files = size = 0
        for table in ("bands", "shash"):
            f, b = tree_bytes(os.path.join(self.path, table))
            files, size = files + f, size + b
        found = {(a, b) for a, b, _, _ in self.pairs}
        live_docs = len(self.feed.sources) + CORPUS_DOCS // 10 - len(self.feed.forgotten)
        return {
            "dedup.build_s": (span_seconds(t.named("dedup.build")), "s"),
            "dedup.ingest_s": (span_seconds(ingest), "s"),
            "dedup.ingest_jobs": (per_call(ingest, "jobs"), "count"),
            "dedup.ingest_tasks": (per_call(ingest, "tasks"), "count"),
            "dedup.ingest_shuffle_bytes": (per_call(ingest, "shuffle_write_bytes"), "bytes"),
            "dedup.ingest_busy_ratio": (busy_ratio(ingest, CORES), "ratio"),
            "dedup.compact_s": (span_seconds(compact), "s"),
            "dedup.compact_bytes_rewritten": (per_call(compact, "output_bytes"), "bytes"),
            "dedup.forget_s": (span_seconds(forget), "s"),
            "dedup.forget_jobs": (per_call(forget, "jobs"), "count"),
            "dedup.query_s": (span_seconds(query), "s"),
            "dedup.query_jobs": (per_call(query, "jobs"), "count"),
            "dedup.query_input_bytes": (per_call(query, "input_bytes"), "bytes"),
            "indexio.index_files": (float(files), "count"),
            "indexio.index_bytes_per_doc": (size / live_docs, "bytes"),
            "dedup.pairs_reported": (float(len(self.pairs)), "count"),
            "dedup.planted_recall": (len(self.feed.planted & found) / len(self.feed.planted), "ratio"),
        }

"""qh_merge: the observability ETL, write-heavy.

Each step polls one REST-shaped pull of query-history records and
merges it into a table partitioned by query_date (write op
``poll_merge``), then runs the cost-attribution rollup over that table
twice (read op ``history_rollup``). Time goes to ``sources`` schema
inference and the ``operators.upsert`` rewrite; no index, no wide
join, and the target table grows during the run.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from pyspark.sql import functions as F

from lakehouse_dba_tools_spark.maintenance.history import read_log
from lakehouse_dba_tools_spark.maintenance.rollup import build_rollup
from lakehouse_dba_tools_spark.operators.dedup import dedup_by_key
from lakehouse_dba_tools_spark.operators.flatten import splat_structs
from lakehouse_dba_tools_spark.operators.upsert import create_or_upsert_partitioned
from lakehouse_dba_tools_spark.sources.json_records import paged_source

from common import per_call, span_seconds, tree_bytes

PAGES = 5
PAGE_ROWS = 100
REFETCH_SHARE = 0.3
LOOKBACK = 300  # ids a re-fetch may pick, counted back from the newest
BASE_MS = 1_700_000_000_000
# Fixed query spacing, so every seed lays the same rows over the same
# dates and rewrites the same partitions; only record contents vary.
SPACING_MS = 62_000
WAREHOUSES = 8
STATUSES = ("FINISHED", "FAILED", "CANCELED")
STATEMENTS = ("SELECT", "INSERT", "MERGE", "OPTIMIZE")
KEY = "query_id"
# Reads per step: a read costs a tenth of a merge, and more samples
# steady its median.
ROLLUPS_PER_STEP = 2
COLUMNS = (
    "compilation_time_ms", "fetch_seq", "is_final", "query_date",
    "query_id", "query_start_time_ms", "read_bytes", "rows_produced_count",
    "statement_type", "status", "total_time_ms", "user_name", "warehouse_id",
)


class QueryHistoryFeed:
    """Seeded stand-in for the paged query-history REST API. About 30 %
    of records re-fetch a recent query (new status and metrics, same
    start time), as the hourly look-back pull does. The share is exact,
    so every seed adds the same number of new queries per pull. ``latest`` is the
    benchmark's own latest-per-key model of everything it sent."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.fetch_seq = 0
        self.fixed: dict[int, dict] = {}
        self.latest: dict[str, tuple] = {}
        self.last_payload = 0

    def _record(self, i: int) -> dict:
        rng = self.rng
        if i not in self.fixed:
            ms = BASE_MS + i * SPACING_MS
            self.fixed[i] = {
                "query_id": f"q{i:08d}",
                "query_start_time_ms": ms,
                "user_name": f"user{rng.randrange(20)}",
                "warehouse_id": f"wh{rng.randrange(WAREHOUSES)}",
                "statement_type": rng.choice(STATEMENTS),
            }
            final = rng.random() < 0.7
        else:
            final = True
        self.fetch_seq += 1
        return {
            **self.fixed[i],
            "status": rng.choice(STATUSES) if final else "RUNNING",
            "is_final": final,
            "fetch_seq": self.fetch_seq,
            "metrics": {
                "total_time_ms": rng.randrange(1, 600_000),
                "read_bytes": rng.randrange(0, 10**10),
                "rows_produced_count": rng.randrange(0, 10**7),
                "compilation_time_ms": rng.randrange(1, 5_000),
            },
        }

    def poll(self) -> list[list[dict]]:
        """One pull: PAGES pages of PAGE_ROWS records."""
        n = PAGES * PAGE_ROWS
        refetch = set()
        if self.next_id > LOOKBACK:
            refetch = set(self.rng.sample(range(n), round(n * REFETCH_SHARE)))
        records = []
        for slot in range(n):
            if slot in refetch:
                i = self.rng.randrange(self.next_id - LOOKBACK, self.next_id)
            else:
                i = self.next_id
                self.next_id += 1
            records.append(self._record(i))
        pages = [records[p:p + PAGE_ROWS] for p in range(0, n, PAGE_ROWS)]
        self.last_payload = sum(len(json.dumps(p)) for p in pages)
        return pages

    def sent(self, pages: list[list[dict]]) -> None:
        """Fold a merged pull into the model: the latest fetch wins."""
        for page in pages:
            for r in page:
                m = r["metrics"]
                day = time.strftime("%Y-%m-%d", time.gmtime(r["query_start_time_ms"] / 1000))
                row = {**r, **m, "is_final": str(r["is_final"]).lower(), "query_date": day}
                self.latest[r[KEY]] = tuple(str(row[c]) for c in COLUMNS)


def rows_digest(rows) -> str:
    """Order-insensitive hash of string-tuple rows."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


class Workload:
    name = "qh_merge"
    # Seconds one step takes on a 4-core host; sets the step count.
    nominal_step_s = 6.5

    def __init__(self, spark, seed: int, root: str, tracer, oplog):
        self.spark, self.seed, self.root = spark, seed, root
        self.tracer, self.oplog = tracer, oplog
        self.last_rollup = None

    def setup(self, rep: int) -> None:
        """Pricing dimension plus the initial pull (the CREATE branch),
        into a fresh directory; the last repetition is the one used."""
        base = os.path.join(self.root, f"setup{rep}")
        self.path = os.path.join(base, "query_history")
        self.feed = QueryHistoryFeed(self.seed)
        rng = random.Random(self.seed + 1)
        pricing = [(f"wh{w}", rng.choice((2, 4, 8, 16, 32)), rng.choice((0.22, 0.55, 0.70)))
                   for w in range(WAREHOUSES)]
        pricing_path = os.path.join(base, "pricing")
        self.spark.createDataFrame(
            pricing, "warehouse_id string, dbu_per_hour int, usd_per_dbu double"
        ).write.parquet(pricing_path)
        self.pricing = self.spark.read.parquet(pricing_path)
        pages = self.feed.poll()
        self._poll_merge(pages, self.feed.last_payload)
        self.feed.sent(pages)

    def _poll_merge(self, pages, payload: int) -> list[str]:
        t = self.tracer
        with t.span("sources.paged_source"):
            df = paged_source(self.spark, pages)
        with t.span("operators.flatten"):
            df = splat_structs(df, ["metrics"]).withColumn(
                "query_date",
                F.date_format(F.timestamp_millis("query_start_time_ms"), "yyyy-MM-dd"),
            )
        with t.span("operators.dedup"):
            df = dedup_by_key(df, [KEY], ["query_start_time_ms", "fetch_seq"], keep="last")
        with t.span("operators.upsert", payload=payload) as sp:
            rewritten = create_or_upsert_partitioned(self.spark, df, self.path, [KEY], "query_date")
            sp["attrs"]["rewritten"] = len(rewritten)
        return rewritten

    def _rollup(self):
        with self.tracer.span("query.rollup"):
            priced = (
                self.spark.read.parquet(self.path)
                .join(self.pricing, "warehouse_id")
                .withColumn(
                    "cost_usd",
                    F.col("total_time_ms") / 3.6e6 * F.col("dbu_per_hour") * F.col("usd_per_dbu"),
                )
            )
            return build_rollup(priced, ["query_date", "status"], ["total_time_ms", "cost_usd"]).collect()

    def step(self, i: int) -> None:
        pages = self.feed.poll()
        payload = self.feed.last_payload
        if self.oplog.run("poll_merge", "write", lambda: self._poll_merge(pages, payload)) is not None:
            self.feed.sent(pages)
        for _ in range(ROLLUPS_PER_STEP):
            rows = self.oplog.run("history_rollup", "read", self._rollup)
            if rows is not None:
                self.last_rollup = rows

    def check(self) -> list[str]:
        """The final table equals the model of what was sent (row count
        and order-insensitive hash), and the last rollup's group counts
        equal the model's."""
        errors = []
        df = self.spark.read.parquet(self.path)
        got = [tuple(r) for r in df.select(*[F.col(c).cast("string") for c in COLUMNS]).collect()]
        want = list(self.feed.latest.values())
        if len(got) != len(want):
            errors.append(f"qh_merge: table has {len(got)} rows, model {len(want)}")
        elif rows_digest(got) != rows_digest(want):
            errors.append("qh_merge: table content differs from the latest-per-key model")
        if self.last_rollup is None:
            errors.append("qh_merge: no rollup completed")
        else:
            counts: dict[tuple, int] = {}
            date_i, status_i = COLUMNS.index("query_date"), COLUMNS.index("status")
            for row in want:
                k = (row[date_i], row[status_i])
                counts[k] = counts.get(k, 0) + 1
            got_counts = {(str(r["query_date"]), r["status"]): r["n_rows"] for r in self.last_rollup}
            if got_counts != counts:
                errors.append("qh_merge: rollup group counts differ from the model")
        return errors

    def layer_metrics(self) -> dict:
        t = self.tracer
        src = t.timed("sources.paged_source")
        up = t.timed("operators.upsert")
        roll = t.timed("query.rollup")
        files, size = tree_bytes(self.path)
        payload = sum(s["attrs"]["payload"] for s in up)
        return {
            "sources.paged_source_s": (span_seconds(src), "s"),
            "sources.paged_source_jobs": (per_call(src, "jobs"), "count"),
            "operators.upsert_s": (span_seconds(up), "s"),
            "operators.upsert_jobs": (per_call(up, "jobs"), "count"),
            "operators.upsert_tasks": (per_call(up, "tasks"), "count"),
            "operators.upsert_shuffle_bytes": (per_call(up, "shuffle_write_bytes"), "bytes"),
            "operators.upsert_partitions_rewritten": (
                sum(s["attrs"]["rewritten"] for s in up) / len(up) if up else 0.0, "count"),
            "operators.upsert_write_amp": (
                sum(s["counters"]["output_bytes"] for s in up) / payload if payload else 0.0, "ratio"),
            "maintenance.commits": (float(len(read_log(self.path))), "count"),
            "storage.table_files": (float(files), "count"),
            "storage.bytes_per_live_row": (size / len(self.feed.latest), "bytes"),
            "query.rollup_jobs": (per_call(roll, "jobs"), "count"),
            "query.rollup_input_bytes": (per_call(roll, "input_bytes"), "bytes"),
        }

"""Commit-log + DESCRIBE HISTORY analog for parquet locations (D8).

The reference relies on Delta's transaction log for `DESCRIBE HISTORY`
(`resources/TPC-datagen-notebook.scala:2168-2183`) and checkpointing
(TPC:2097-2116). Plain parquet has no log, so the engine keeps its OWN:
a JSON-lines file (`_engine_log/commits.jsonl`) beside the data that
every mutating verb appends to. This is an honest emulation — it
records what THIS engine did (versions, operation, row counts,
timestamps), it is not a Delta-compatible log and it does not make the
writes transactional (README "Table-format boundary").

Design: one append per commit, driver-side (a commit is control-plane
metadata, O(100 bytes)); `describe_history` reads the log back as a
DataFrame, newest first, like `DeltaTable.history()`. `checkpoint_log`
collapses the tail into a single snapshot entry the way Delta
checkpoints bound log replay.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

LOG_DIR = "_engine_log"
LOG_NAME = "commits.jsonl"


def footer_row_count(table_path: str) -> int:
    """Row count from parquet footers — driver-side metadata read, no
    Spark job (the way Delta gets commit stats from its log for free;
    rescanning the table per commit would double every merge's cost).

    Walks partition directories (``col=value/``), skipping ``_``- and
    ``.``-prefixed entries (``_SUCCESS``, ``_engine_log``, checksum
    files), so partitioned tables count every live row."""
    import pyarrow.parquet as pq

    if os.path.isfile(table_path):
        return pq.read_metadata(table_path).num_rows
    total = 0
    for root, dirs, files in os.walk(table_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        total += sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return total


def _log_path(table_path: str) -> str:
    return os.path.join(table_path.rstrip("/") + f".{LOG_DIR}", LOG_NAME)


def record_commit(
    table_path: str,
    operation: str,
    num_output_rows: int | None = None,
    parameters: dict | None = None,
    timestamp: float | None = None,
) -> int:
    """Append one commit entry; returns the new version number."""
    path = _log_path(table_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    version = 0
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if line.strip():
                    version = json.loads(line)["version"] + 1
    entry = {
        "version": version,
        "timestamp": timestamp if timestamp is not None else time.time(),
        "operation": operation,
        "num_output_rows": num_output_rows,
        "parameters": parameters or {},
    }
    with open(path, "a") as f:
        f.write(json.dumps(entry) + "\n")
    return version


def read_log(table_path: str) -> list[dict]:
    """All commit entries for a location (empty list if no log)."""
    path = _log_path(table_path)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def describe_history(spark: SparkSession, table_path: str) -> DataFrame:
    """History of this engine's commits against a parquet location,
    newest first — the `DESCRIBE HISTORY` shape (version, timestamp,
    operation, operationParameters, num_output_rows)."""
    entries = read_log(table_path)
    rows = [
        (
            e["version"],
            float(e["timestamp"]),
            e["operation"],
            json.dumps(e.get("parameters") or {}, sort_keys=True),
            e.get("num_output_rows"),
        )
        for e in sorted(entries, key=lambda e: -e["version"])
    ]
    return spark.createDataFrame(
        rows,
        "version long, timestamp double, operation string, "
        "operation_parameters string, num_output_rows long",
    )


def checkpoint_log(table_path: str, keep_last: int = 0) -> int:
    """Collapse the commit log into one snapshot entry (+ optionally the
    ``keep_last`` most recent commits) — bounds replay the way Delta's
    checkpoint files do. Returns the number of entries collapsed."""
    path = _log_path(table_path)
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    if len(entries) <= keep_last + 1:
        return 0
    cut = len(entries) - keep_last
    head, tail = entries[:cut], entries[cut:]
    snapshot = {
        "version": head[-1]["version"],
        "timestamp": head[-1]["timestamp"],
        "operation": "CHECKPOINT",
        "num_output_rows": head[-1].get("num_output_rows"),
        "parameters": {"collapsed_versions": f"0-{head[-1]['version']}"},
    }
    with open(path, "w") as f:
        for e in [snapshot, *tail]:
            f.write(json.dumps(e) + "\n")
    return len(head)

"""Gate-scale parquet export of the generated TPC-DS warehouse.

Why this exists (round-6 correctness hardening): the TPC-DS query
tier's oracles used to be VALUES blocks pinned from the engine's own
output — a determinism/regression pin, not an independent check. This
module writes the canonical generated warehouse ONCE per machine to a
versioned `/tmp` location so that DuckDB can execute real (adapted)
TPC-DS SQL text *over the same rows* as an independent oracle — the
`orc_roundtrip_report` / `time_travel_changes` relational-oracle
pattern generalized to the whole tier (reference corpus:
`evaluation_tools/dbstress__Current.py:93-103`, which drives
`queries/tpcds_2.13/*.sql` against dsdgen warehouses).

Design points:

- The export is GATE SCALE ONLY (the sf0.01 differential gate). Spark
  queries keep reading the generators directly — sized by
  ``scale_for(sf_dir)`` so bench at sf0.1 exercises 10× facts — while
  oracles always compare at the gate, where generator output and this
  export are the same rows by construction (generators are pure
  functions of (seed, row id)).
- Idempotent and crash-safe: tables land in a staging dir that is
  RENAMED over the final name; a `_EXPORT_OK` marker is written last.
  Concurrent/re-entrant callers see either nothing (and rebuild) or a
  complete export. `EXPORT_VERSION` is baked into the path — bump it
  whenever generator semantics change so stale exports can't satisfy
  new oracles.
- Scale story: this is test scaffolding for the correctness gate, not
  a data path — the 100 TB pipeline never runs it. Gate sizes (200k /
  120k facts) write in seconds on local[32].
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

EXPORT_VERSION = 1
SEED = 100

# Canonical gate-scale row counts — MUST match what the query tier
# generates at scale 1 (queries_tpcds.py fact helpers) so the oracle
# reads exactly the rows the gate-SF Spark query computed over.
SS_ROWS = 200_000
CS_ROWS = 120_000
WS_ROWS = 120_000
INV_ITEMS = 2_000

# Fact tables whose generated row count scales with SF.
CORE_TABLES = (
    "call_center",
    "catalog_page",
    "catalog_returns",
    "catalog_sales",
    "customer",
    "customer_address",
    "customer_demographics",
    "date_dim",
    "household_demographics",
    "income_band",
    "inventory",
    "item",
    "promotion",
    "reason",
    "ship_mode",
    "store",
    "store_returns",
    "store_sales",
    "time_dim",
    "warehouse",
    "web_page",
    "web_returns",
    "web_sales",
    "web_site",
)


def scale_for(sf_dir: str) -> int:
    """Integer fact multiplier from a testdata dir name: sf0.01 (the
    gate) and below → 1; sf0.1 → 10. Unparseable dirs (unit-test tmp
    paths) → 1, so pins stay valid everywhere except the deliberate
    bench scale-up."""
    base = os.path.basename(os.path.normpath(sf_dir or ""))
    if base.startswith("sf"):
        try:
            return max(1, round(float(base[2:]) / 0.01))
        except ValueError:
            pass
    return 1


def warehouse_tables(spark: SparkSession, scale: int = 1) -> dict[str, DataFrame]:
    """The canonical 24-table generated warehouse at a fact scale.
    Single source of truth for sizes:
    the query tier, the SQL-text stress views, and the oracle export
    all build from here."""
    from lakehouse_dba_tools_spark.datagen.generator import gen_store_sales
    from lakehouse_dba_tools_spark.datagen.tpcds import (
        gen_customer_address,
        gen_customer_demographics,
        gen_customer_ds,
        gen_date_dim,
        gen_household_demographics,
        gen_income_band,
        gen_item,
        gen_promotion,
        gen_reason,
        gen_store,
        gen_store_returns,
        gen_time_dim,
    )
    from lakehouse_dba_tools_spark.datagen.tpcds_channels import (
        gen_call_center,
        gen_catalog_page,
        gen_catalog_returns,
        gen_catalog_sales,
        gen_inventory,
        gen_ship_mode,
        gen_warehouse,
        gen_web_page,
        gen_web_returns,
        gen_web_sales,
        gen_web_site,
    )

    return {
        "call_center": gen_call_center(spark),
        "catalog_page": gen_catalog_page(spark),
        "catalog_returns": gen_catalog_returns(spark, CS_ROWS * scale, seed=SEED),
        "catalog_sales": gen_catalog_sales(spark, CS_ROWS * scale, seed=SEED),
        "customer": gen_customer_ds(spark),
        "customer_address": gen_customer_address(spark),
        "customer_demographics": gen_customer_demographics(spark),
        "date_dim": gen_date_dim(spark),
        "household_demographics": gen_household_demographics(spark),
        "income_band": gen_income_band(spark),
        "inventory": gen_inventory(
            spark, n_items=INV_ITEMS * scale, n_warehouses=5, n_weeks=104, seed=SEED
        ),
        "item": gen_item(spark, 18_000, seed=SEED),
        "promotion": gen_promotion(spark),
        "reason": gen_reason(spark),
        "ship_mode": gen_ship_mode(spark),
        "store": gen_store(spark),
        "store_returns": gen_store_returns(spark, SS_ROWS * scale, seed=SEED),
        "store_sales": gen_store_sales(spark, SS_ROWS * scale, seed=SEED),
        "time_dim": gen_time_dim(spark),
        "warehouse": gen_warehouse(spark),
        "web_page": gen_web_page(spark),
        "web_returns": gen_web_returns(spark, WS_ROWS * scale, seed=SEED),
        "web_sales": gen_web_sales(spark, WS_ROWS * scale, seed=SEED),
        "web_site": gen_web_site(spark),
    }


def warehouse_dir(scale: int = 1) -> str:
    return f"/tmp/lakehouse_tpcds_wh_v{EXPORT_VERSION}_seed{SEED}_sc{scale}"


def gate_dir() -> str:
    return warehouse_dir(1)


def _locked_export(root: str, marker: str, names, tables_fn) -> None:
    """Single-writer export core: an flock on ``_EXPORT_LOCK``
    serializes concurrent sessions (two exporters previously raced on
    the shared ``_tmp_{name}`` staging dirs and the rmtree+rename
    pair, able to corrupt the warehouse the oracles read). The marker
    is re-checked INSIDE the lock, so a process that waited on a
    peer's export returns without rewriting anything; staging dirs are
    additionally pid-suffixed so even a crashed-and-restarted exporter
    never shares a staging path with a live one. ``tables_fn`` is
    called lazily (only when an export is actually needed) and returns
    {name: DataFrame}."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    mpath = os.path.join(root, marker)
    if os.path.exists(mpath):
        return
    with open(os.path.join(root, "_EXPORT_LOCK"), "w") as lock_fh:
        fcntl.flock(lock_fh, fcntl.LOCK_EX)
        try:
            if os.path.exists(mpath):  # a peer exported while we waited
                return
            tables = tables_fn()
            for name in names:
                final = os.path.join(root, name)
                if os.path.isdir(final):
                    shutil.rmtree(final)  # partial from a crashed exporter
                staging = os.path.join(root, f"_tmp_{name}_{os.getpid()}")
                if os.path.isdir(staging):
                    shutil.rmtree(staging)
                tables[name].write.mode("overwrite").parquet(staging)
                os.rename(staging, final)
            with open(mpath, "w") as fh:
                fh.write("ok\n")
        finally:
            fcntl.flock(lock_fh, fcntl.LOCK_UN)


def _export(
    spark: SparkSession, names: tuple[str, ...], marker: str, scale: int = 1
) -> None:
    _locked_export(
        warehouse_dir(scale),
        marker,
        names,
        lambda: warehouse_tables(spark, scale=scale),
    )


def ensure_export(spark: SparkSession, scale: int = 1) -> str:
    """Write the warehouse at ``scale`` to parquet if not already on
    disk; returns the export root. Cheap after the first call (one
    marker stat). Scale 1 is the oracle's gate twin; larger scales
    back the SQL-text stress at bench SFs — a parquet-backed warehouse
    gives the corpus real scan pushdown instead of re-running
    generator projections per query."""
    _export(spark, CORE_TABLES, "_EXPORT_OK", scale=scale)
    return warehouse_dir(scale)


def ensure_gate_export(spark: SparkSession) -> str:
    """Gate-scale (sc1) export — the oracle's view of the warehouse."""
    return ensure_export(spark, scale=1)


def rp(table: str) -> str:
    """DuckDB ``read_parquet`` fragment for one exported table — the
    building block for oracle SQL (`... FROM {rp('store_sales')} ss`)."""
    return f"read_parquet('{gate_dir()}/{table}/*.parquet')"


def with_tables(sql: str, *tables: str) -> str:
    """Prefix ``sql`` with a WITH clause binding each exported table
    name to its parquet files, so real TPC-DS SQL text (which names
    bare tables) runs unmodified in DuckDB — CTE names shadow catalog
    lookups."""
    binds = ",\n      ".join(f"{t} AS (SELECT * FROM {rp(t)})" for t in tables)
    lead = sql.lstrip()
    if lead[:4].upper() == "WITH":
        # merge into the query's own WITH clause
        return f"WITH {binds},\n    {lead[4:].lstrip()}"
    return f"WITH {binds}\n    {sql}"


# ---------------------------------------------------------------------------
# Datagen-verification export (round-7): the three gen_* rollup queries
# (queries_datagen.py) used to pin their seed-100 aggregates as VALUES —
# the engine's own output, a determinism pin rather than an independent
# check. Exporting the exact generated inputs once per machine lets
# DuckDB RECOMPUTE each rollup from the same rows (the
# tpcds_warehouse_build_audit read-back pattern), making the oracles
# genuinely independent formulations of the aggregation.

DATAGEN_TABLES = ("lineitem", "supplier", "partsupp", "store_sales")


def datagen_dir() -> str:
    return f"/tmp/lakehouse_datagen_wh_v{EXPORT_VERSION}_seed{SEED}"


def _datagen_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """EXACTLY the frames the queries_datagen rollups generate — same
    row counts, same seed, pure functions of (seed, row_id)."""
    from lakehouse_dba_tools_spark.datagen.generator import (
        gen_lineitem,
        gen_partsupp,
        gen_store_sales,
        gen_supplier,
    )

    return {
        "lineitem": gen_lineitem(spark, 200_000, seed=SEED),
        "supplier": gen_supplier(spark, 1_000, seed=SEED),
        "partsupp": gen_partsupp(spark, 10_000, n_suppliers=1_000, seed=SEED),
        "store_sales": gen_store_sales(spark, 100_000, seed=SEED),
    }


def ensure_datagen_export(spark: SparkSession) -> str:
    """Write the datagen-verification tables to parquet if absent;
    marker-cached, flock-serialized like the TPC-DS warehouse."""
    _locked_export(
        datagen_dir(), "_EXPORT_OK", DATAGEN_TABLES,
        lambda: _datagen_tables(spark),
    )
    return datagen_dir()


def rp_datagen(table: str) -> str:
    """DuckDB ``read_parquet`` fragment for a datagen-export table."""
    return f"read_parquet('{datagen_dir()}/{table}/*.parquet')"

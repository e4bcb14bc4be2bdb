"""Shared test fixtures: one SparkSession per test run, a DuckDB
connection with the driver's pre-registered views, and the oracle
comparator mirroring the driver's t2 check (row-count + schema +
order-insensitive value hash)."""

from __future__ import annotations

import math
import os
from datetime import date, datetime

import duckdb
import pytest

from datafusion_tpc_spark import registry
from datafusion_tpc_spark.catalog import TABLES
from datafusion_tpc_spark.session import get_spark

# Canonical registration order BEFORE any test module imports an
# operator module directly (e.g. tests/test_chunking.py pulling
# chunking → dedup): conftest imports first under pytest, so the
# driver-visible window (registry.load_all docstring,
# tests/test_registry_order.py) stays collection-order-independent.
registry.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dftpc-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


def jobs_launched(spark, group: str, run) -> list[int]:
    """Spark jobs ``run()`` launches, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # listener events arrive asynchronously; drain them before reading
    spark._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def ddb():
    """DuckDB with the same views the driver pre-registers."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    """Normalize a value for order-insensitive comparison across
    engines: floats to 9 significant-ish decimals (queries already
    ROUND aggregates to 6), timestamps/dates to ISO strings, NaN/None
    unified."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _normalize(cols, records):
    """column list + iterable of row dicts → (sorted cols, sorted rows)."""
    cols = sorted(cols)
    rows = [tuple(_norm_cell(rec[c]) for c in cols) for rec in records]
    rows.sort()
    return cols, rows


# Driver-canonicalizer contract (VERDICT r10 item 5): the external
# driver's hash canonicalizer (pandas sort_values over the collected
# frame) has twice nearly diverged from this mirror — bare list cells
# kill sort_values outright, and DECIMAL values arrive as pandas
# object dtype and hash-mismatch even when bit-identical (the r5
# q_agg_decimal adjudication). Every type the canonicalizer is PROVEN
# to hash (247 driver-green queries over ten rounds) is atomic; any
# oracled query emitting outside this set must string-encode at fixed
# scale on both sides (concat_ws for arrays, CAST AS STRING for
# decimals — CLAUDE.md conventions) and keep the raw form pytest-only.
_CANONICALIZABLE_TYPES = (
    "string",
    "boolean",
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
    "date",
    "timestamp",
    "timestamp_ntz",
)


def assert_driver_canonicalizable(schema, name=""):
    """Registry-wide schema lint: fail any query whose output schema
    the driver hasher can't canonicalize (bare array/map/struct,
    DECIMAL, binary, interval...). Enforced at the parity chokepoint
    so every current AND future oracled query passes through it."""
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if f.dataType.simpleString() not in _CANONICALIZABLE_TYPES
    ]
    assert not bad, (
        f"{name}: output schema not driver-canonicalizable — {bad}. "
        "String-encode (concat_ws / CAST AS STRING at fixed scale) on "
        "BOTH sides and keep the raw-typed form as a pytest-only case "
        "(CLAUDE.md oracle conventions)."
    )


def assert_matches_oracle(spark_df, ddb, oracle_sql, name=""):
    """Mirror of the driver's t2 compare: row count, column-name set,
    order-insensitive values. Spark side via collect() (native Python
    values), DuckDB side via Arrow (keeps date32 as dates)."""
    if name in registry.ORACLE:
        # registered oracled queries must hash under the DRIVER's
        # canonicalizer, not just this mirror's; pytest-only raw-typed
        # cases (name not registered) are exempt by design.
        assert_driver_canonicalizable(spark_df.schema, name)
    sp_rows_raw = [r.asDict() for r in spark_df.collect()]
    du_tbl = ddb.execute(oracle_sql).fetch_arrow_table()
    du_rows_raw = du_tbl.to_pylist()
    sp_cols, sp_rows = _normalize(spark_df.columns, sp_rows_raw)
    du_cols, du_rows = _normalize(du_tbl.column_names, du_rows_raw)
    assert sp_cols == du_cols, f"{name}: column mismatch {sp_cols} vs {du_cols}"
    assert len(sp_rows) == len(du_rows), (
        f"{name}: row count {len(sp_rows)} vs oracle {len(du_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(sp_rows, du_rows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )

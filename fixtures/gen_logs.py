"""Deterministic generation of the reconstructed `logs` table
(FIXTURES.md §1) — the reference's only in-repo table, its columns
inferred from the queries at reference benches/query.rs:24-26
(service, pod, container, request_method, response_bytes) and
src/main.rs:48-52 (service, host, request_bytes).

Seed=42, generated with numpy alone (no Spark session): generation
happens at registry import so the DuckDB oracle can read the parquet
regardless of query/oracle execution order.

Layout: row groups of fixtures/optimize.ROW_GROUP_ROWS rows, so a
scan splits across cores on the correctness path and the bench path
alike (a single-group file scans on one core). The layout is part of
the file name, so a checkout holding an older single-group
`logs.parquet` generates the new file instead of keeping the old one.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.optimize import ROW_GROUP_ROWS

_SERVICES = ["auth", "api", "web", "billing", "search", "ingest", "cache", "batch"]
_CONTAINERS = ["app", "sidecar", "init", "proxy"]
_METHODS = ["GET", "POST", "PUT", "DELETE"]
_METHOD_P = [0.70, 0.20, 0.05, 0.05]

_ROWS = {"0.001": 10_000, "0.01": 100_000, "0.1": 1_000_000}

_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "logs"
)
_FILE = f"logs-rg{ROW_GROUP_ROWS}.parquet"


def logs_path(sf: str) -> str:
    """The logs fixture of one scale factor — the one source of the
    path for the Spark side, the oracles and the bench's result check."""
    return os.path.join(_CACHE_ROOT, f"sf{sf}", _FILE)


def generate(sf: str) -> str:
    """Generate logs for one scale factor (idempotent, seed=42). The
    write goes to a uuid temp file renamed into place (two cold
    processes racing a fixed '.tmp' name would interleave into one
    corrupt file); the legacy single-group `logs.parquet` and crashed
    writers' orphan tmp files are then reclaimed by the shared
    two-phase prune, as in fixtures/optimize.py."""
    path = logs_path(sf)
    if os.path.exists(path):
        return path
    n = _ROWS[sf]
    rng = np.random.default_rng(42)
    base_us = np.int64(1_704_067_200_000_000)  # 2024-01-01T00:00:00Z
    ts = base_us + rng.integers(0, 24 * 3600 * 1_000_000, n, dtype=np.int64)
    service = rng.choice(np.array(_SERVICES), n)
    host = np.char.add("host-", np.char.zfill(rng.integers(0, 20, n).astype(str), 2))
    pod = np.char.add(
        np.char.add(service.astype(str), "-pod-"), rng.integers(0, 50, n).astype(str)
    )
    container = rng.choice(np.array(_CONTAINERS), n)
    method = rng.choice(np.array(_METHODS), n, p=_METHOD_P)
    request_bytes = np.minimum(
        np.exp(rng.normal(6.5, 1.5, n)).astype(np.int64) + 100, 1_000_000
    )
    response_bytes = np.minimum(
        np.exp(rng.normal(7.5, 1.8, n)).astype(np.int64) + 100, 10_000_000
    )
    table = pa.table(
        {
            "ts": pa.array(ts, pa.timestamp("us")),
            "service": pa.array(service.astype(str)),
            "host": pa.array(host.astype(str)),
            "pod": pa.array(pod.astype(str)),
            "container": pa.array(container.astype(str)),
            "request_method": pa.array(method.astype(str)),
            "request_bytes": pa.array(request_bytes),
            "response_bytes": pa.array(response_bytes),
        }
    )
    from datafusion_tpc_spark.catalog import prune_stale_cache_dirs

    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f"logs-{uuid.uuid4().hex[:8]}.tmp")
    pq.write_table(table, tmp, row_group_size=ROW_GROUP_ROWS)
    os.replace(tmp, path)
    prune_stale_cache_dirs(d, _FILE, extra=("logs.parquet",))
    return path


def ensure_all() -> None:
    for sf in _ROWS:
        generate(sf)


def sf_of(sf_dir: str) -> str:
    """Map a testdata dir (…/sf0.01) to the logs scale key."""
    key = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return key if key in _ROWS else "0.01"

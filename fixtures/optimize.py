"""Table-layout optimization — the ingestion/maintenance pass of the
engine (Spark analog of Delta/Iceberg OPTIMIZE / parquet compaction).

The driver's testdata parquets are single-row-group files; a Parquet
scan can only split at row-group boundaries, so every scan of e.g.
lineitem@sf0.1 (10.8 MB, 1 row group) runs on ONE core no matter how
many executors exist. At 100 TB this is exactly the "few giant files /
oversized row groups" pathology that table maintenance fixes; locally
we reproduce the fix by rewriting each table with bounded row groups.

Data is byte-identical row-wise (pyarrow read → write, no reordering),
so results and oracles are unaffected — only the physical layout
changes. Used by the bench path (SPARK_GRAFT_OPT_CACHE=1); the
correctness path reads the raw driver files. ROW_GROUP_ROWS is also
the layout of the generated logs fixture (fixtures/gen_logs.py).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

ROW_GROUP_ROWS = 50_000

_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "opt"
)


def optimized_dir(sf_dir: str) -> str:
    key = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:12]
    return os.path.join(_CACHE_ROOT, key)


def ensure_optimized(sf_dir: str, table: str) -> str:
    """Rewrite one table with bounded row groups (idempotent); returns
    the optimized file path. The file name carries the SOURCE's
    (mtime, size) fingerprint — the repo-wide derived-cache rule: a
    testdata drop replaces files at the same path, and a path-only
    key would keep serving the bench stale bytes — and the layout
    (``-rg{ROW_GROUP_ROWS}``, as in gen_logs.py), so a changed row
    group size rewrites the copy instead of serving the old layout.
    The write goes to a uuid temp file atomically renamed into place
    (two processes racing a fixed '.tmp' would interleave into one
    corrupt file).
    Superseded fingerprints, the legacy un-fingerprinted name, and
    crashed writers' orphan tmp files are reclaimed by the shared
    two-phase-marked prune (catalog.prune_stale_cache_dirs)."""
    import uuid

    from datafusion_tpc_spark.catalog import prune_stale_cache_dirs, source_fingerprint

    src = os.path.join(sf_dir, f"{table}.parquet")
    fp = hashlib.md5(source_fingerprint(src).encode()).hexdigest()[:12]
    d = optimized_dir(sf_dir)
    out = os.path.join(d, f"{table}-{fp}-rg{ROW_GROUP_ROWS}.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(d, exist_ok=True)
    tbl = pq.read_table(src)
    tmp = os.path.join(d, f"{table}-{uuid.uuid4().hex[:8]}.tmp")
    pq.write_table(tbl, tmp, row_group_size=ROW_GROUP_ROWS)
    os.replace(tmp, out)
    # stale `{table}-*` siblings (old fingerprints, orphan tmps) plus
    # the legacy un-fingerprinted name; other tables' entries in the
    # same dir don't match this prefix and are left alone
    prune_stale_cache_dirs(
        d, os.path.basename(out), extra=(f"{table}.parquet",)
    )
    return out

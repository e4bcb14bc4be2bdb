"""The `logs` fixture and the session-scoped read/view memo.

The reference registers `logs` once and scans it thread-per-core
(reference benches/query.rs:35-40, src/main.rs:41). Here that is:

1. a fixture written in bounded row groups, so a Parquet scan splits
   across cores (fixtures/gen_logs.py);
2. one read memo and one view memo in catalog.py (memo_read,
   register_view), used by load_table, register_tables, the q_logs_*
   callables and the derived partsupp, so a repeat build in a session
   launches no Spark job;
3. a lint keeping the `logs` and `partsupp` views registered only
   through catalog.py, which the view memo relies on.
"""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq

from datafusion_tpc_spark import registry
from fixtures import gen_logs, optimize
from fixtures.optimize import ROW_GROUP_ROWS

from tests.conftest import SF_DIR, jobs_launched

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LOGS_QUERIES = ("q_logs_scan", "q_logs_filter", "q_logs_agg")


def test_every_logs_sf_is_row_grouped():
    """Every scale factor's logs file holds all its rows in row groups
    of at most ROW_GROUP_ROWS, and the layout is in the file name (a
    checkout holding the old single-group file regenerates)."""
    gen_logs.ensure_all()
    for sf, rows in gen_logs._ROWS.items():
        path = gen_logs.logs_path(sf)
        assert os.path.basename(path) == f"logs-rg{ROW_GROUP_ROWS}.parquet"
        meta = pq.ParquetFile(path).metadata
        assert meta.num_rows == rows
        groups = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
        assert max(groups) <= ROW_GROUP_ROWS, (sf, groups)


def test_optimized_copy_is_row_grouped_and_layout_named(tmp_path, monkeypatch):
    """The bench's layout-optimized copy holds all of the source's rows
    in row groups of at most ROW_GROUP_ROWS, and the layout is in the
    file name, so a changed ROW_GROUP_ROWS writes a new copy instead of
    serving the old layout."""
    monkeypatch.setattr(optimize, "_CACHE_ROOT", str(tmp_path))
    rows = pq.ParquetFile(os.path.join(SF_DIR, "lineitem.parquet")).metadata.num_rows
    paths = []
    for rg in (ROW_GROUP_ROWS, 7_000):
        monkeypatch.setattr(optimize, "ROW_GROUP_ROWS", rg)
        path = optimize.ensure_optimized(SF_DIR, "lineitem")
        assert path.endswith(f"-rg{rg}.parquet"), path
        meta = pq.ParquetFile(path).metadata
        assert meta.num_rows == rows
        groups = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
        assert max(groups) <= rg, (rg, groups)
        paths.append(path)
    assert paths[0] != paths[1]


def test_generate_reclaims_legacy_file_and_leaves_no_tmp(tmp_path, monkeypatch):
    """A cold generate publishes the layout-named file, leaves no temp
    file behind, and marks the legacy single-group `logs.parquet` for
    the two-phase prune."""
    monkeypatch.setattr(gen_logs, "_CACHE_ROOT", str(tmp_path))
    d = tmp_path / "sf0.001"
    d.mkdir()
    (d / "logs.parquet").write_bytes(b"legacy")

    path = gen_logs.generate("0.001")

    names = set(os.listdir(d))
    assert os.path.basename(path) in names
    assert "logs.parquet.superseded" in names
    assert not [n for n in names if n.endswith(".tmp")], names
    assert pq.ParquetFile(path).metadata.num_rows == gen_logs._ROWS["0.001"]


def test_repeat_builds_launch_no_spark_job(spark):
    """A second build of each q_logs_* callable and of the derived
    partsupp in one session is a memo hit: no schema inference, no
    Spark job."""
    from datafusion_tpc_spark.catalog import derived_partsupp

    builds = {name: registry.QUERIES[name] for name in _LOGS_QUERIES}
    builds["derived_partsupp"] = derived_partsupp
    launched = {}
    for name, build in builds.items():
        build(spark, SF_DIR)
        launched[name] = jobs_launched(
            spark, f"rebuild-{name}", lambda b=build: b(spark, SF_DIR)
        )
    assert launched == {name: [] for name in builds}, launched


def test_logs_view_follows_logs_sf_switch(spark, monkeypatch):
    """Under the bench harness, switching SPARK_GRAFT_LOGS_SF inside
    one session re-points the `logs` view each time: the view memo
    re-registers when the DataFrame under `logs` changed."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH", "1")
    q = registry.QUERIES["q_logs_scan"]
    counts = []
    for sf in ("0.001", None, "0.001", None):
        if sf is None:
            monkeypatch.delenv("SPARK_GRAFT_LOGS_SF", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_LOGS_SF", sf)
        df = q(spark, SF_DIR)
        counts.append((df.count(), spark.sql("SELECT * FROM logs").count()))
    assert counts == [
        (10_000, 10_000),
        (100_000, 100_000),
        (10_000, 10_000),
        (100_000, 100_000),
    ]


def test_logs_and_partsupp_views_registered_only_by_catalog():
    """register_view's memo assumes it is the only writer of a view
    name: a direct createOrReplaceTempView of `logs` or `partsupp`
    elsewhere would leave the memo pointing at a replaced view and
    serve it stale."""
    banned = re.compile(r"createOrReplaceTempView\(\s*[\"'](logs|partsupp)[\"']")
    offenders: list[str] = []
    for root, dirs, files in os.walk(_REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "spark-warehouse"]
        for fn in files:
            if not fn.endswith(".py") or fn == "catalog.py":
                continue
            path = os.path.join(root, fn)
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if banned.search(line):
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, f"register these views via catalog.register_view: {offenders}"

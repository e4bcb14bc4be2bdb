"""Round-17 (optimization round 2) pins:

1. VERDICT r16 item 9: the session table memo's correctness rests on
   catalog.register_tables being the ONLY writer of the ten TABLES
   temp-view names — a later module registering e.g. its own
   'lineitem' view would silently serve stale plans out of the memo.
   The audit that established this was a one-off grep; this makes it
   a standing lint.
2. VERDICT r16 item 2: bench.py's output JSON (bench.summary) must
   carry the ambient-load marker (marker_min) whenever the marker
   query was benched, so PERF comparisons self-adjudicate co-tenant
   contamination (additions-only; the driver contract ignores extra
   keys).
"""

from __future__ import annotations

import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "datafusion_tpc_spark")


def test_table_view_names_owned_by_catalog_only():
    """No module outside catalog.py may createOrReplaceTempView any of
    the ten TABLES names (catalog.register_tables' precondition, made
    a lint per VERDICT r16 item 9). Derived views with other names
    are not covered here; `logs` and `partsupp` have their own lint
    (tests/test_logs_fixture.py)."""
    from datafusion_tpc_spark.catalog import TABLES

    offenders: list[str] = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            if os.path.basename(path) == "catalog.py":
                continue
            with open(path) as fh:
                src = fh.read()
            for m in re.finditer(
                r"createOrReplaceTempView\(\s*[\"']([^\"']+)[\"']", src
            ):
                if m.group(1) in TABLES:
                    offenders.append(f"{path}: {m.group(0)}")
    assert not offenders, (
        "TABLES view names must only be registered by "
        f"catalog.register_tables (the memo's ownership precondition): "
        f"{offenders}"
    )


def test_cache_and_size_primitives_owned_by_catalog_only():
    """Outside catalog.py no package module may publish a cache by
    rename, prune one, or size a table with os.path.getsize: derived
    caches go through catalog.materialize / session_table and size
    gates through catalog.small_table / data_bytes. Hand-written copies
    drifted before (about twenty builders, five pasted gates, one of
    them blind to directory-shaped tables)."""
    banned = re.compile(
        r"os\.path\.getsize\(|os\.replace\(|os\.rename\(|prune_stale_cache_dirs\("
    )
    offenders: list[str] = []
    for root, _dirs, files in os.walk(_PKG):
        for fn in files:
            if not fn.endswith(".py") or fn == "catalog.py":
                continue
            path = os.path.join(root, fn)
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if banned.search(line):
                        offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, (
        "use catalog.materialize / session_table / small_table instead: "
        f"{offenders}"
    )


def test_bench_emits_marker_min():
    """bench.summary — the JSON line bench.py prints — carries the
    in-run marker (q_dedup_prefix min) exactly when the marker was
    benched, next to the median and min sums."""
    import bench

    with_marker = bench.summary(
        {"q_scan_full": 0.5, "q_dedup_prefix": 2.0},
        {"q_scan_full": 0.25, "q_dedup_prefix": 1.5},
        0.1,
    )
    assert with_marker["marker_min"] == 1.5
    assert with_marker["value"] == 2.5 and with_marker["sum_min_sec"] == 1.75
    assert with_marker["metric"] == "sum_median_sec" and with_marker["sf"] == 0.1

    without = bench.summary({"q_scan_full": 0.5}, {"q_scan_full": 0.25}, 0.1)
    assert "marker_min" not in without

"""Round-15 invariants (a zero-birth round — no new query ids):

1. VERDICT r14 item 5: the decontam merge's at-scale fallback is now
   CODE — _merge_ingest_batch switches from the IN-list point read to
   a SortMergeJoin LEFT ANTI beyond _DCS_INLIST_MAX batch hashes.
   Both physical forms must produce the identical post-merge index
   (the lsh_upsert identical-to-rebuild precedent).
2. ADVICE r14 item 1: the two-step publish of the upserted indexes is
   guarded — a failed merge must not leave an UNMERGED index
   servable.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datafusion_tpc_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def _final_plan(df):
    return (
        df._jdf.queryExecution().executedPlan().toString().split(
            "Initial Plan"
        )[0]
    )


def _scratch_index(spark, path, base_pred):
    """Fresh partitioned span index over the base_pred train slice,
    written to ``path``; returns its DataFrame."""
    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.operators.decontam_served import (
        _read_spans,
        _train_hashes,
        _write_spans,
    )

    shutil.rmtree(path, ignore_errors=True)
    docs = load_table(spark, SF_DIR, "documents")
    _write_spans(_train_hashes(docs.filter(base_pred)), path)
    return _read_spans(spark, path)


def test_decontam_merge_smj_path_identical_to_inlist(spark):
    """The two merge forms — IN-list point read (inlist_max high) and
    SortMergeJoin anti-join (inlist_max=0 forces the >threshold
    branch) — must land the identical post-merge index: same row set,
    no duplicate h, on a base that overlaps the ingest batch (so the
    dedupe-on-ingest anti-join actually has work to do on both
    paths)."""
    from datafusion_tpc_spark.operators.decontam_served import (
        _ingest_hashes,
        _merge_ingest_batch,
        _read_spans,
    )

    base_pred = F.col("doc_id") >= 25  # overlaps the <50 ingest batch
    root = "/tmp/dcs_merge_forms_t"
    shutil.rmtree(root, ignore_errors=True)
    merged = []
    try:
        base = _scratch_index(spark, os.path.join(root, "base"), base_pred)
        for inlist_max in (10_000, 0):
            out = os.path.join(root, f"delta{inlist_max}")
            _merge_ingest_batch(
                spark,
                base,
                _ingest_hashes(spark, SF_DIR),
                out,
                inlist_max=inlist_max,
            )
            merged.append(base.unionByName(_read_spans(spark, out)))
        a, b = merged
        assert a.count() > base.count(), "merge added nothing"
        assert a.count() == a.distinct().count(), "duplicate h (inlist)"
        assert b.count() == b.distinct().count(), "duplicate h (smj)"
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_decontam_merge_smj_plan_shape(spark):
    """The >threshold branch's anti-join must plan as a SortMergeJoin
    (the hint forbids broadcasting the large batch side) that reads
    the index once: one Exchange on each side — the batch side's
    DISTINCT exchange already partitions it on h, and the index side
    (both generations of the upserted view) shuffles once."""
    from datafusion_tpc_spark.operators.decontam_served import (
        _ingest_hashes,
        _upserted_span_index,
    )

    name = _upserted_span_index(spark, SF_DIR)
    joined = _ingest_hashes(spark, SF_DIR).hint("merge").join(
        spark.table(name).select("h"), "h", "left_anti"
    )
    plan = _final_plan(joined)
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert plan.count("Exchange") == 2, plan


def test_decontam_upsert_publish_guard(spark, monkeypatch):
    """A failed merge must publish no ingest delta: materialize
    removes its build dir and re-raises, so no later call serves the
    unmerged base (missing batch hashes, contamination undercounted
    vs the oracle); the un-patched rebuild then serves the full
    answer."""
    from datafusion_tpc_spark.operators import decontam_served as dcs

    def deltas():
        if not os.path.isdir(dcs._CACHE_ROOT):
            return []
        return [e for e in os.listdir(dcs._CACHE_ROOT) if "_dcsdelta-" in e]

    # force a fresh delta build
    for e in deltas():
        shutil.rmtree(os.path.join(dcs._CACHE_ROOT, e), ignore_errors=True)

    def boom(*a, **k):
        raise RuntimeError("merge failed mid-flight")

    monkeypatch.setattr(dcs, "_merge_ingest_batch", boom)
    with pytest.raises(RuntimeError, match="mid-flight"):
        dcs._upserted_span_index(spark, SF_DIR)
    assert deltas() == [], "unmerged delta left behind after a failed merge"
    # un-patched rebuild restores the served path end-to-end
    monkeypatch.undo()
    rows = registry.QUERIES["q_dedup_decontam_upsert"](spark, SF_DIR).collect()
    full = registry.QUERIES["q_dedup_decontam_served"](spark, SF_DIR).collect()
    assert rows == full and len(rows) == 1


def test_lsh_upsert_publish_guard(spark, monkeypatch):
    """Same two-step publish hazard as decontam (the base band table
    registers before the ingest append): a failed append must drop the
    table, or later calls serve batch-less candidates (near-dup
    undercount)."""
    from datafusion_tpc_spark.operators import lsh_served as lsh

    name, _ = lsh._index_names(SF_DIR, upsert=True)
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    def boom(*a, **k):
        raise RuntimeError("ingest append failed mid-flight")

    monkeypatch.setattr(lsh, "_ingest_projection", boom)
    with pytest.raises(RuntimeError, match="mid-flight"):
        lsh._upserted_index(spark, SF_DIR)
    assert not spark.catalog.tableExists(name), (
        "batch-less band index left registered after a failed append"
    )
    monkeypatch.undo()
    rows = registry.QUERIES["q_dedup_lsh_upsert"](spark, SF_DIR).collect()
    full = registry.QUERIES["q_dedup_lsh_served"](spark, SF_DIR).collect()
    assert rows == full and len(rows) > 0


def test_admission_concurrent_drains_identical(spark):
    """Two streams draining simultaneously in one process (the
    multi-tenant shape tools/bench_admission_budget.py measures at
    12-way) must not interfere: independent run dirs/checkpoints,
    identical verdicts."""
    from concurrent.futures import ThreadPoolExecutor

    from datafusion_tpc_spark.streaming.admission import (
        run_admission_stream,
    )

    def drain(_):
        return sorted(
            tuple(r) for r in run_admission_stream(spark, SF_DIR).collect()
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        a, b = list(ex.map(drain, range(2)))
    assert a == b and len(a) > 0


def test_admission_prune_spares_live_foreign_pid(spark):
    """The run-dir pruner (ADVICE r14) must remove dirs owned by dead
    processes but never one whose embedded owner PID is alive in
    another process — rmtree'ing a concurrent driver rehearsal's
    in-flight checkpoint mid-stream was the failure mode."""
    import os
    import shutil

    from datafusion_tpc_spark.streaming.admission import (
        _CACHE_ROOT,
        run_admission_stream,
    )

    live_foreign = os.path.join(_CACHE_ROOT, "run_1_deadbeef")  # PID 1: init, always alive
    dead = os.path.join(_CACHE_ROOT, "run_999999999_cafebabe")
    os.makedirs(live_foreign, exist_ok=True)
    os.makedirs(dead, exist_ok=True)
    try:
        run_admission_stream(spark, SF_DIR).collect()
        assert os.path.isdir(live_foreign), (
            "pruned a run dir whose owning process is alive"
        )
        assert not os.path.isdir(dead), "dead-owner run dir not reclaimed"
    finally:
        shutil.rmtree(live_foreign, ignore_errors=True)
        shutil.rmtree(dead, ignore_errors=True)

"""Concurrent-execution safety for the queries that build shared
state (review r7): the dynamic-partition-overwrite sink, the bucketed
catalog tables, and the late-data replay fixture each had a race —
session-conf flip, unlocked shared build dir, fixed temp dir — that
only manifests when two executions overlap (the 12-concurrent bench,
or a pytest+mirror overlap). These tests run the overlap on purpose.
"""

from __future__ import annotations

import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

from datafusion_tpc_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _tmp_dirs(entries):
    """catalog.materialize build dirs (``<key>.<8 hex digits>``) among
    a cache root's entries; a published or pruned cache leaves none."""
    return [e for e in entries if re.fullmatch(r".+\.[0-9a-f]{8}", e)]


def test_sink_dpo_concurrent(spark):
    """Two overlapping q_sink_dpo executions on one session: with the
    old session-global partitionOverwriteMode flip, one thread's
    finally-restore could force the other's restatement write into
    STATIC mode, truncating every non-'F' partition (3 statuses -> 1
    row). The per-write option keeps both results complete."""
    fn = registry.QUERIES["q_sink_dpo"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
    assert a == b
    assert len(a) == 3  # all order statuses survive, not just 'F'


def test_bucketed_concurrent_cold(spark):
    """Two threads racing the bucketed-table build from a cold cache:
    the exists-check+saveAsTable pair must serialize (the old code
    double-built one table name / interleaved writes under one
    path)."""
    from datafusion_tpc_spark.operators import bucketing

    # drop catalog entries + data so both threads see a cold start
    for t in spark.catalog.listTables():
        if "_bkt_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    shutil.rmtree(bucketing._CACHE_ROOT, ignore_errors=True)
    fn = registry.QUERIES["q_join_bucketed"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
    assert a == b and len(a) > 0


def test_late_fixture_concurrent_cold(spark):
    """Two threads racing the 5-file replay-fixture build from a cold
    cache: the published dir must contain all five slice files and
    _READY (the old fixed '.build' temp dir let one thread rmtree the
    other's half-written slices, publishing a short fixture that
    streamed silently-wrong window counts)."""
    from datafusion_tpc_spark.streaming import late_data

    shutil.rmtree(late_data._CACHE_ROOT, ignore_errors=True)
    with ThreadPoolExecutor(max_workers=2) as pool:
        pa, pb = list(
            pool.map(lambda _: late_data._fixture_dir(spark, SF_DIR), range(2))
        )
    assert pa == pb
    files = sorted(os.listdir(pa))
    assert files == ["00.parquet", "01.parquet", "02.parquet", "03.parquet",
                     "04.parquet", "_READY"]
    # and no orphaned uuid build dirs survive next to it
    leftovers = [d for d in os.listdir(late_data._CACHE_ROOT)
                 if d != os.path.basename(pa)]
    assert leftovers == []


def test_eval_queries_concurrent_unpersist(spark):
    """(r8) q_dedup_eval and q_sim_anneval materialize their counts
    eagerly and unpersist their caches in try/finally. Two
    overlapping executions share CacheManager entries (same analyzed
    plan), so one thread's unpersist can drop blocks mid-use of the
    other — correctness must survive via lineage recompute, and both
    one-row summaries must be identical."""
    for name in ("q_dedup_eval", "q_sim_anneval"):
        fn = registry.QUERIES[name]
        with ThreadPoolExecutor(max_workers=2) as pool:
            a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
        assert a == b and len(a) == 1, name


def test_sink_run_ids_released(spark):
    """(r8, ADVICE r7) the JSON and DPO sinks must release their run
    ids once the read-back plan exists — a long-lived process
    otherwise never reclaims its own completed run dirs — and the
    returned DataFrame must still collect afterwards (the 6 h
    (21600 s) reader-support age gate protects the pending read)."""
    from datafusion_tpc_spark.queries import sinks_dpo, sinks_ext

    df_json = registry.QUERIES["q_sink_json"](spark, SF_DIR)
    df_dpo = registry.QUERIES["q_sink_dpo"](spark, SF_DIR)
    assert sinks_ext._LIVE_RUNS == set()
    assert sinks_dpo._LIVE_RUNS == set()
    assert len(df_json.collect()) > 0
    assert len(df_dpo.collect()) == 3


def test_bucketed_sibling_tables_not_superseded(spark):
    """(r8, ADVICE r7) building the second bucketed table (lineitem)
    must NOT mark the first table's (orders) live dir superseded —
    the prune prefix is namespaced per table. A cold double build
    leaves zero .superseded markers."""
    from datafusion_tpc_spark.operators import bucketing

    for t in spark.catalog.listTables():
        if "_bkt_" in t.name:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    shutil.rmtree(bucketing._CACHE_ROOT, ignore_errors=True)
    fn = registry.QUERIES["q_join_bucketed"]
    assert len(_rows(fn(spark, SF_DIR))) > 0
    markers = [
        d for d in os.listdir(bucketing._CACHE_ROOT) if d.endswith(".superseded")
    ]
    assert markers == [], markers


def test_ivf_index_concurrent_cold(spark):
    """(r11) Two threads racing the IVF materialized-index build from
    a cold cache: catalog.materialize (per-key lock, ``<key>.<uuid>``
    build dir, atomic rename) must publish exactly one index (no
    interleaved partial writes), both served results must be
    identical, and no ``<key>.<uuid>`` build dir may survive (the
    two-phase prune covers crashes; a clean race must not leak at
    all)."""
    from datafusion_tpc_spark.operators import ivf_served

    shutil.rmtree(ivf_served._CACHE_ROOT, ignore_errors=True)
    fn = registry.QUERIES["q_sim_ivf_served"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
    assert a == b and len(a) == 20
    entries = os.listdir(ivf_served._CACHE_ROOT)
    assert not _tmp_dirs(entries), entries
    assert len([e for e in entries if not e.endswith(".superseded")]) == 1


def test_lsh_index_concurrent_cold(spark):
    """(r12) Two threads racing the LSH band-index build from a cold
    cache: catalog.session_table's per-name lock serializes the
    tableExists check and the build, so exactly one bucketed table is
    written (saveAsTable is NOT atomic across processes — in-process
    threads must never double-build one name), both served results
    must be identical, and the catalog entry must survive for reuse."""
    from datafusion_tpc_spark.operators import lsh_served

    # cold: drop the catalog entry and the data dir (session-scoped
    # catalog + on-disk cache)
    name, _ = lsh_served._index_names(SF_DIR)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(lsh_served._CACHE_ROOT, ignore_errors=True)

    fn = registry.QUERIES["q_dedup_lsh_served"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
    assert a == b and len(a) >= 1
    assert spark.catalog.tableExists(name)


def test_decontam_index_concurrent_cold(spark):
    """(r13) Two threads racing the train-span index build from a
    cold cache: catalog.materialize's key lock builds it once, so the
    race must publish exactly one entry, identical served results, no
    ``<key>.<uuid>`` build dir left and no duplicate h in the index."""
    from datafusion_tpc_spark.operators import decontam_served

    shutil.rmtree(decontam_served._CACHE_ROOT, ignore_errors=True)
    fn = registry.QUERIES["q_dedup_decontam_served"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
    assert a == b and len(a) == 1
    entries = os.listdir(decontam_served._CACHE_ROOT)
    assert not _tmp_dirs(entries), entries
    assert len([e for e in entries if not e.endswith(".superseded")]) == 1
    idx = spark.table(decontam_served._train_span_index(spark, SF_DIR))
    assert idx.count() == idx.select("h").distinct().count(), "duplicate h"


def test_ivf_upsert_concurrent_cold(spark):
    """(r14) Two threads racing the UPSERTED IVF index build from a
    cold cache: _upserted_ivf_index calls catalog.materialize for its
    own key only after _ivf_index's materialize call returned (each
    key has its own lock, so the two builds never nest), so the race
    must publish exactly two entries (full + upserted), identical
    served results, no ``<key>.<uuid>`` build dir left."""
    from datafusion_tpc_spark.operators import ivf_served

    shutil.rmtree(ivf_served._CACHE_ROOT, ignore_errors=True)
    fn = registry.QUERIES["q_sim_ivf_upsert"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
    assert a == b and len(a) == 20
    entries = os.listdir(ivf_served._CACHE_ROOT)
    assert not _tmp_dirs(entries), entries
    assert len([e for e in entries if not e.endswith(".superseded")]) == 2


def test_decontam_upsert_concurrent_cold(spark):
    """(r14) Two threads racing the MERGED span-index build from a
    cold cache: the base generation and the ingest delta are each one
    catalog.materialize key, so the race must publish exactly two
    entries (base + delta), identical served results, no
    ``<key>.<uuid>`` build dir left, and no duplicate h across the
    generations (a double merge would break the DISTINCT-h
    invariant)."""
    from datafusion_tpc_spark.operators import decontam_served

    shutil.rmtree(decontam_served._CACHE_ROOT, ignore_errors=True)
    fn = registry.QUERIES["q_dedup_decontam_upsert"]
    with ThreadPoolExecutor(max_workers=2) as pool:
        a, b = list(pool.map(lambda _: _rows(fn(spark, SF_DIR)), range(2)))
    assert a == b and len(a) == 1
    entries = os.listdir(decontam_served._CACHE_ROOT)
    assert not _tmp_dirs(entries), entries
    assert len([e for e in entries if not e.endswith(".superseded")]) == 2
    u = spark.table(decontam_served._upserted_span_index(spark, SF_DIR))
    assert u.count() == u.select("h").distinct().count(), "duplicate h after race"

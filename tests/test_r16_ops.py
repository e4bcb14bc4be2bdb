"""Round-16 invariants (a zero-birth round — no new query ids):

1. ADVICE r15 item on the LSH upsert's publish guard: the cleanup
   DROP inside the guard is best-effort — when the session is broken
   enough that the DROP itself raises, the ORIGINAL failure must
   still propagate (before the fix, the cleanup error replaced it and
   the root cause was lost).
2. ADVICE r15 item on _merge_ingest_batch: the batch is persisted
   across the branch probe, so the SMJ branch runs the ingest lineage
   once and probe + join see the same rows.
3. The session-scoped table memo: load_table/register_tables paid
   ~0.9 s of driver-side re-analysis (schema read + view analysis)
   on EVERY query call; the memo makes repeat calls ~12 ms while a
   testdata swap at the same path (verify-skill convention) still
   invalidates via the (mtime_ns, size) fingerprint.
"""

from __future__ import annotations

import os

import pytest

from datafusion_tpc_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def test_lsh_guard_cleanup_failure_keeps_original_error(spark, monkeypatch):
    """The ingest append fails AND the cleanup DROP fails
    (broken-session simulation): the append's error must propagate,
    not the cleanup's.
    The table stays registered (cleanup could not run) — the accepted
    residue of a broken session."""
    from datafusion_tpc_spark.operators import lsh_served as lsh

    name, _ = lsh._index_names(SF_DIR, upsert=True)
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    def boom(*a, **k):
        raise RuntimeError("ingest append failed mid-flight")

    real_sql = spark.sql

    def broken_sql(stmt, *a, **k):
        if stmt.lstrip().upper().startswith("DROP TABLE"):
            raise RuntimeError("cleanup also failed: session dead")
        return real_sql(stmt, *a, **k)

    monkeypatch.setattr(lsh, "_ingest_projection", boom)
    monkeypatch.setattr(spark, "sql", broken_sql)
    with pytest.raises(RuntimeError, match="mid-flight"):
        lsh._upserted_index(spark, SF_DIR)
    monkeypatch.undo()

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    rows = registry.QUERIES["q_dedup_lsh_upsert"](spark, SF_DIR).collect()
    full = registry.QUERIES["q_dedup_lsh_served"](spark, SF_DIR).collect()
    assert rows == full and len(rows) > 0


def test_merge_batch_persisted_across_branch_probe(spark, monkeypatch):
    """The VERDICT r16 item-1 contract: _merge_ingest_batch persists
    the batch ONLY on the SMJ branch (before its anti-join write, so
    the ingest windowing lineage runs once there) and unpersists on
    exit; the common small-batch branch must NOT persist — its only
    batch action is the bounded probe collect, whose rows are the
    IN-list, so an eager cache there is pure memory-store overhead
    (the r16 driver-channel regression)."""
    from datafusion_tpc_spark.operators import decontam_served as dcs

    # patch the CONCRETE DataFrame class (pyspark 4 classic subclasses
    # the pyspark.sql.DataFrame ABC and overrides persist — patching
    # the base would never intercept)
    DataFrame = type(spark.range(1))
    calls = {"persist": 0, "unpersist": 0}
    real_persist, real_unpersist = DataFrame.persist, DataFrame.unpersist

    def spy_persist(self, *a, **k):
        calls["persist"] += 1
        return real_persist(self, *a, **k)

    def spy_unpersist(self, *a, **k):
        calls["unpersist"] += 1
        return real_unpersist(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy_persist)
    monkeypatch.setattr(DataFrame, "unpersist", spy_unpersist)

    import shutil

    from tests.test_r15_ops import _scratch_index
    from pyspark.sql import functions as F

    root = "/tmp/r16_persist_probe"
    base = _scratch_index(spark, f"{root}/base", F.col("doc_id") % 2 == 0)
    try:
        batch = spark.range(0, 100).select(
            (F.col("id") * 97 % (1 << 60)).alias("h")
        )
        # SMJ branch (100 rows > inlist_max=10): persist + unpersist
        dcs._merge_ingest_batch(spark, base, batch, f"{root}/smj", inlist_max=10)
        assert calls["persist"] >= 1, "batch not persisted on SMJ branch"
        assert calls["unpersist"] >= calls["persist"], (
            "persisted batch leaked past the merge"
        )
        # small branch (100 rows <= inlist_max=10_000): NO persist —
        # the probe collect is the branch's only batch action
        calls["persist"] = calls["unpersist"] = 0
        small = spark.range(100, 120).select(
            (F.col("id") * 97 % (1 << 60)).alias("h")
        )
        dcs._merge_ingest_batch(spark, base, small, f"{root}/inlist")
        assert calls["persist"] == 0, (
            "small-batch branch persisted the batch (VERDICT r16 "
            "item 1: the probe is the only action there)"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_table_memo_identity_and_fingerprint_invalidation(
    spark, tmp_path
):
    """Repeat load_table calls in one session return the SAME
    DataFrame object (the memo hit that removes the per-call ~125 ms
    schema re-read); replacing the file at the same path — the
    testdata-drop scenario the verify skill documents — invalidates
    via the (mtime_ns, size) fingerprint."""
    import shutil

    from datafusion_tpc_spark.catalog import load_table, register_tables

    d1 = load_table(spark, SF_DIR, "region")
    assert load_table(spark, SF_DIR, "region") is d1

    # fingerprint invalidation on a swapped file
    sf2 = tmp_path / "sfx"
    sf2.mkdir()
    for t in ("region", "nation"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), sf2 / f"{t}.parquet")
    a = load_table(spark, str(sf2), "region")
    assert load_table(spark, str(sf2), "region") is a
    # replace at the same path with different bytes (nation's file)
    shutil.copy(os.path.join(SF_DIR, "nation.parquet"), sf2 / "region.parquet")
    os.utime(sf2 / "region.parquet", ns=(1, 1))  # force mtime change
    b = load_table(spark, str(sf2), "region")
    assert b is not a, "stale DataFrame served after a testdata swap"

    # register_tables switches the session views when sf_dir changes
    register_tables(spark, SF_DIR)
    n1 = spark.sql("SELECT count(*) c FROM region").collect()[0]["c"]
    assert n1 > 0


def test_register_tables_skips_reregister_but_switches_sf(spark):
    """The view memo: same sf_dir twice -> the second call registers
    nothing new (same DataFrame objects under every name); switching
    sf_dir re-points the views (counts change), switching back
    re-points again."""
    from datafusion_tpc_spark.catalog import register_tables

    out1 = register_tables(spark, SF_DIR)
    out2 = register_tables(spark, SF_DIR)
    assert all(out1[k] is out2[k] for k in out1)
    c_small = spark.sql("SELECT count(*) c FROM lineitem").collect()[0]["c"]
    other = SF_DIR.replace("0.01", "0.001")
    if other == SF_DIR or not os.path.isdir(other):
        # r16 review: don't let the re-pointing half vanish silently
        pytest.skip(f"second sf_dir {other} not present on this machine")
    register_tables(spark, other)
    c_other = spark.sql("SELECT count(*) c FROM lineitem").collect()[0]["c"]
    register_tables(spark, SF_DIR)
    c_back = spark.sql("SELECT count(*) c FROM lineitem").collect()[0]["c"]
    assert c_back == c_small and c_other != c_small


def test_register_tables_concurrent_storm_then_heal(spark):
    """The r16 race fix's invariant: after register_tables(spark, sf)
    returns with no concurrent callers, the session's views serve sf —
    even right after a storm of concurrent registrations with MIXED
    sf_dirs. Under the unlocked check-register-record the view memo
    could stick to a losing registration and the final call would skip
    the healing re-register (serving the wrong sf_dir indefinitely)."""
    import threading

    from datafusion_tpc_spark.catalog import load_table, register_tables

    other = SF_DIR.replace("0.01", "0.001")
    if other == SF_DIR or not os.path.isdir(other):
        pytest.skip(f"second sf_dir {other} not present on this machine")

    errs = []

    def storm(sf):
        try:
            for _ in range(8):
                register_tables(spark, sf)
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    threads = [
        threading.Thread(target=storm, args=(sf,))
        for sf in (SF_DIR, other, SF_DIR, other)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs

    register_tables(spark, SF_DIR)
    want = load_table(spark, SF_DIR, "lineitem").count()
    got = spark.sql("SELECT count(*) c FROM lineitem").collect()[0]["c"]
    assert got == want, "views not healed to the requested sf_dir"


# ---- optimization-pass pins (second half of the round) ----------------


def test_order_windows_preagg_equals_join_then_agg(spark):
    """q_join_overlap's r16 rewrite: aggregate lineitem by l_orderkey
    FIRST, then attach o_custkey (guide §2.3 aggregate-before-shuffle)
    — must be the same relation as the original join-then-aggregate
    on the composite key. Commutes because orderkey determines
    custkey and orders is unique per key."""
    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.queries.sql_shapes import _order_windows

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    old = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("ck"), F.col("l_orderkey").alias("ok"))
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
    )
    new = _order_windows(spark, SF_DIR)
    sym_diff = old.exceptAll(new).unionAll(new.exceptAll(old))
    assert sym_diff.count() == 0


def test_overlap_self_join_plans_without_sort_merge(spark):
    """The pre-agg form lets the planner broadcast the window table's
    self-join (before: SortMergeJoin + an extra composite-key
    exchange). Pin the improved shape so a regression is visible."""
    plan = (
        registry.QUERIES["q_join_overlap"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_mg_arrow_sketch_candidates_cover_heavy_hitters(spark):
    """q_agg_freq's r16 mapInArrow sketch: the candidate union must
    still be a superset of the true heavy hitters (the MG guarantee),
    and the row-local total must equal the explode-count total."""
    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.operators.sketches import _K, _mg_partition

    docs = load_table(spark, SF_DIR, "documents").select("text")
    cand = {
        r.token
        for r in docs.repartition(4)
        .mapInArrow(_mg_partition, "token string, residual long")
        .select("token")
        .distinct()
        .collect()
    }
    tok = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    n = tok.count()
    truth = {
        r.token
        for r in tok.groupBy("token")
        .count()
        .filter(F.col("count") * _K > F.lit(n))
        .collect()
    }
    assert truth <= cand, truth - cand
    total_rowlocal = docs.agg(
        F.sum(F.greatest(F.size(F.split(F.col("text"), " ")), F.lit(0)))
    ).collect()[0][0]
    assert total_rowlocal == n

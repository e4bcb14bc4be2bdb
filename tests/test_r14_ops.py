"""Round-14 operator invariants: the maintenance leg symmetrized
across the serving trilogy (VERDICT r13 item 4) — q_sim_ivf_upsert
(partition-append of persisted-codebook assignments, no retrain) and
q_dedup_decontam_upsert (merge-on-ingest of a train batch's span
hashes into a second partitioned generation, no corpus rescan) — plus the streaming admission-gate
capstone composing all three serving indexes (q_stream_admission:
micro-batch independence, index-only verdict plans, per-tier
semantics)."""

from __future__ import annotations

import re

from datafusion_tpc_spark import registry
from tests.conftest import SF_DIR
from tests.test_r13_ops import _partitions_read

registry.load_all()


def _final_plan(df):
    return (
        df._jdf.queryExecution().executedPlan().toString().split(
            "Initial Plan"
        )[0]
    )


# ---------------------------------------------------------------- IVF


def test_ivf_upsert_matches_full_rebuild(spark):
    """Incremental maintenance is a physical change only: the top-k
    served from the upserted index is row-identical to
    q_sim_ivf_served (the full-corpus encode), and the upserted
    assignment TABLE itself carries exactly the full index's rows."""
    from datafusion_tpc_spark.operators.ivf_served import (
        _ivf_index,
        _upserted_ivf_index,
    )

    up = registry.QUERIES["q_sim_ivf_upsert"](spark, SF_DIR).collect()
    full = registry.QUERIES["q_sim_ivf_served"](spark, SF_DIR).collect()
    assert up == full and len(up) > 0
    fpath, _ = _ivf_index(spark, SF_DIR)
    upath, _ = _upserted_ivf_index(spark, SF_DIR)
    f = spark.read.parquet(fpath)
    u = spark.read.parquet(upath)
    assert u.exceptAll(f).count() == 0 and f.exceptAll(u).count() == 0


def test_ivf_upsert_ingest_is_batch_only_encode(spark):
    """The maintenance WRITE's source reads ONLY the ingest batch
    (pushed-down vec_id < BATCH_N) and encodes it row-locally from
    the persisted codebook — no retrain (no aggregate), no exchange,
    one scan."""
    from datafusion_tpc_spark.functions.ivf import BATCH_N
    from datafusion_tpc_spark.operators.ivf_served import (
        _ingest_assignment,
        _ivf_index,
    )

    _, codebook = _ivf_index(spark, SF_DIR)
    plan = (
        _ingest_assignment(spark, SF_DIR, codebook)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(
        rf"PushedFilters: \[.*LessThan\(vec_id,{BATCH_N}\)", plan
    ), plan
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_ivf_upsert_serving_plan_pruned_and_training_free(spark):
    """Serving from the maintained index keeps the q_sim_ivf_served
    plan shape: PartitionFilters IN-list across BOTH file
    generations, no training lineage, map-side top-k."""
    df = registry.QUERIES["q_sim_ivf_upsert"](spark, SF_DIR)
    plan = _final_plan(df)
    assert re.search(r"PartitionFilters: \[cell#\d+ IN \([\d,]+\)\]", plan), plan
    assert "HashAggregate" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_ivf_upsert_multi_generation(spark):
    """The maintenance loop holds over SUCCESSIVE ingest batches: a
    3-generation index (base, then two appended encode batches) still
    serves rows identical to the full rebuild, with partition pruning
    intact — the production loop is append-per-batch forever."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.functions.ivf import _NORM_E, assign_cells
    from datafusion_tpc_spark.operators.ivf_served import (
        _K,
        _ivf_index,
        _serve_candidates,
    )

    _, codebook = _ivf_index(spark, SF_DIR)
    path = "/tmp/ivf_upsert_gen3_test"
    shutil.rmtree(path, ignore_errors=True)
    raw = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    v = raw.select("vec_id", "label", "emb", F.expr(_NORM_E).alias("e"))
    slices = (
        F.col("vec_id") >= 20,                                # base corpus
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 20),     # ingest 1
        F.col("vec_id") < 10,                                 # ingest 2
    )
    try:
        for i, pred in enumerate(slices):
            mode = "overwrite" if i == 0 else "append"
            (
                assign_cells(v.filter(pred), codebook)
                .write.mode(mode)
                .partitionBy("cell")
                .parquet(path)
            )
        df = (
            _serve_candidates(spark, SF_DIR, path, codebook)
            .orderBy(
                F.col("cos_sim").desc_nulls_last(),
                F.col("vec_id").asc_nulls_last(),
            )
            .limit(_K)
        )
        rows = df.collect()
        full = registry.QUERIES["q_sim_ivf_served"](spark, SF_DIR).collect()
        assert rows == full
        plan = _final_plan(df)
        assert re.search(
            r"PartitionFilters: \[cell#\d+ IN \([\d,]+\)\]", plan
        ), plan
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ----------------------------------------------------------- decontam


def test_decontam_upsert_matches_full_rebuild(spark):
    """Served answer identical to q_dedup_decontam_served, and the
    upserted index is set-equal to the full rebuild with NO duplicate
    h — the dedupe-on-ingest anti-join is what keeps the serving
    SUM-rollup from double-counting."""
    from datafusion_tpc_spark.operators.decontam_served import (
        _index_table_name,
        _upserted_span_index,
    )

    up = registry.QUERIES["q_dedup_decontam_upsert"](spark, SF_DIR).collect()
    full = registry.QUERIES["q_dedup_decontam_served"](spark, SF_DIR).collect()
    assert up == full and len(up) == 1
    u = spark.table(_upserted_span_index(spark, SF_DIR))
    f = spark.table(_index_table_name(SF_DIR))
    assert u.count() == u.distinct().count(), "duplicate h in upserted index"
    assert u.exceptAll(f).count() == 0 and f.exceptAll(u).count() == 0


def test_decontam_upsert_ingest_is_batch_only(spark):
    """The merge's source reads ONLY the ingest batch (pushed-down
    doc_id < DCS_INGEST_LT, one scan), and the dedupe-on-ingest read
    of the existing index is partition-pruned (partitions read <=
    min(|batch hashes|, _SRV_BUCKETS) of each generation) —
    maintenance cost is independent of corpus size."""
    from datafusion_tpc_spark.operators.decontam_served import (
        _SRV_BUCKETS,
        DCS_INGEST_LT,
        _ingest_hashes,
        _point_read,
        _upserted_span_index,
    )

    ing = _ingest_hashes(spark, SF_DIR)
    iplan = ing._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        rf"PushedFilters: \[.*LessThan\(doc_id,{DCS_INGEST_LT}\)", iplan
    ), iplan
    assert iplan.count("Scan parquet") == 1
    # the merge-time existing-hash read: partition-pruned point read
    # of the index, same shape as the serving read
    name = _upserted_span_index(spark, SF_DIR)
    hs = sorted(int(r["h"]) for r in ing.collect())
    probe = _point_read(spark.table(name), hs)
    probe.collect()
    scans = _partitions_read(probe)
    assert scans and all(
        read <= min(len(hs), _SRV_BUCKETS) and total <= _SRV_BUCKETS
        for read, total in scans
    ), scans


def test_decontam_upsert_serving_plan_unchanged(spark):
    """The upserted index serves through the q_dedup_decontam_served
    plan: one partition-pruned scan per generation (base + ingest
    delta, each reading <= min(|probe hashes|, _SRV_BUCKETS)
    partitions of at most _SRV_BUCKETS), zero corpus windowing
    lineage. Pruning survival on a dirty probe is gated at sf0.001 (at
    sf0.01 the clean probe lets AQE elide the index read — itself
    correct, the r13 clean-probe fast path)."""
    from pyspark.sql import functions as F

    from datafusion_tpc_spark.operators.decontam_served import (
        _SRV_BUCKETS,
        PROBE_DOC,
        _probe_hash_counts,
    )

    sf = "/root/testdata/sf0.001"
    df = registry.QUERIES["q_dedup_decontam_upsert"](spark, sf)
    rows = df.collect()
    assert rows[0]["n_contam"] > 0, "fixture drift: probe no longer dirty"
    full = registry.QUERIES["q_dedup_decontam_served"](spark, sf).collect()
    assert rows == full
    final = _final_plan(df)
    n_hashes = len(
        {r["h"] for r in _probe_hash_counts(spark, sf, F.col("doc_id") == PROBE_DOC)}
    )
    scans = _partitions_read(df)
    assert len(scans) == 2, scans
    base_read, base_total = scans[0]
    assert 1 <= base_read and base_total == _SRV_BUCKETS, scans
    for read, total in scans:
        assert read <= min(n_hashes, _SRV_BUCKETS) and total <= _SRV_BUCKETS
    assert final.count("Scan parquet") == 2
    assert "documents.parquet" not in final, "corpus scan in serving plan"
    assert "Generate" not in final, "corpus windowing lineage in serving plan"


def test_decontam_upsert_multi_generation(spark):
    """Merge-per-batch forever: three generations (a base index, then
    two successive train batches each merged against everything
    before it) must keep (a) the no-duplicate-h invariant, (b)
    set-equality with the full rebuild, (c) served-row identity, and
    (d) partition pruning in every generation's scan."""
    import shutil

    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.operators.decontam_served import (
        _SRV_BUCKETS,
        PROBE_DOC,
        _merge_ingest_batch,
        _point_read,
        _read_spans,
        _served,
        _train_hashes,
        _train_span_index,
        _write_spans,
    )

    name = "dcs_upsert_gen3_test"
    paths = [f"/tmp/dcs_upsert_gen3_test/g{i}" for i in range(3)]
    shutil.rmtree("/tmp/dcs_upsert_gen3_test", ignore_errors=True)
    docs = load_table(spark, SF_DIR, "documents")
    slices = (
        F.col("doc_id") >= 100,                                # base corpus
        (F.col("doc_id") >= 50) & (F.col("doc_id") < 100),     # ingest 1
        F.col("doc_id") < 50,                                  # ingest 2
    )
    try:
        _write_spans(_train_hashes(docs.filter(slices[0])), paths[0])
        u = _read_spans(spark, paths[0])
        for pred, path in zip(slices[1:], paths[1:]):
            _merge_ingest_batch(spark, u, _train_hashes(docs.filter(pred)), path)
            u = u.unionByName(_read_spans(spark, path))
        assert u.count() == u.distinct().count(), "duplicate h"
        f = spark.table(_train_span_index(spark, SF_DIR))
        assert u.exceptAll(f).count() == 0 and f.exceptAll(u).count() == 0
        u.createOrReplaceTempView(name)
        df = _served(
            spark, SF_DIR, F.col("doc_id") == PROBE_DOC, index_name=name
        )
        rows = df.collect()
        full = registry.QUERIES["q_dedup_decontam_served"](
            spark, SF_DIR
        ).collect()
        assert rows == full
        # three indexed hashes prune each of the three generations
        hs = [int(r["h"]) for r in f.limit(3).collect()]
        pruned = _point_read(spark.table(name), hs)
        pruned.collect()
        scans = _partitions_read(pruned)
        assert len(scans) == 3, scans
        assert all(read <= len(hs) for read, _ in scans), scans
        assert all(total <= _SRV_BUCKETS for _, total in scans), scans
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree("/tmp/dcs_upsert_gen3_test", ignore_errors=True)


# ---------------------------------------------------- admission gate


def test_stream_admission_equals_batch_gate(spark):
    """The gate verdict depends only on (text, fixed indexes), so the
    3-micro-batch streamed result must equal the one-shot batch gate
    over the same probe set — micro-batch partitioning independence,
    which is what licenses the EXACT oracle on a streaming query."""
    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.operators.lsh_served import BATCH_N
    from datafusion_tpc_spark.streaming.admission import admission_gate

    streamed = registry.QUERIES["q_stream_admission"](spark, SF_DIR).collect()
    probes = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < BATCH_N)
        .select("doc_id", "text")
    )
    oneshot = sorted(
        map(tuple, admission_gate(spark, SF_DIR, probes).collect())
    )
    assert sorted(map(tuple, streamed)) == oneshot
    assert len(streamed) == BATCH_N


def test_admission_gate_plan_reads_only_indexes(spark):
    """The verdict plan contains ONLY the three index reads — every
    corpus fingerprint was collected before the plan exists, so
    documents.parquet must not appear, the band/digest index reads
    must be bucket-pruned (SelectedBucketsCount), and there is no
    corpus mining lineage (no Generate from a table scan — the
    probe's own windows were computed pre-plan)."""
    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.operators.lsh_served import BATCH_N
    from datafusion_tpc_spark.streaming.admission import admission_gate

    probes = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < BATCH_N)
        .select("doc_id", "text")
    )
    df = admission_gate(spark, SF_DIR, probes)
    # STATIC plan (pre-collect): all three index reads present. At
    # runtime AQE's empty-relation propagation legitimately elides
    # tiers with no matches (the r13 clean-probe fast path) — the
    # final plan may carry fewer scans, asserted below.
    static = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in static, static
    assert static.count("Scan parquet") == 3, static
    assert re.search(r"SelectedBucketsCount: \d+ out of \d+", static), static
    df.collect()
    final = _final_plan(df)
    assert "documents.parquet" not in final, final
    assert final.count("Scan parquet") <= 3, final


def test_stream_admission_ran_in_microbatches(spark):
    """The fixture replays as 3 files with maxFilesPerTrigger=1 — the
    run must actually gate per micro-batch (3 verdict appends), not
    collapse into one batch."""
    import glob
    import os

    from datafusion_tpc_spark.streaming.admission import (
        _CACHE_ROOT,
        _fixture_dir,
        run_admission_stream,
    )

    fixture = _fixture_dir(spark, SF_DIR)
    slices = [f for f in os.listdir(fixture) if f.endswith(".parquet")]
    assert len(slices) == 3
    df = run_admission_stream(spark, SF_DIR)
    df.collect()
    out_dirs = glob.glob(os.path.join(_CACHE_ROOT, "run_*", "verdicts"))
    newest = max(out_dirs, key=os.path.getmtime)
    # ADVICE r14: part-file counting couldn't distinguish one
    # micro-batch writing 3 part files from 3 micro-batches — the
    # streaming COMMIT LOG is the ground truth: one entry per
    # committed micro-batch under <run>/ckpt/commits (entries are
    # numeric batch ids; '.compact' rollups still count one each).
    commits = [
        f
        for f in os.listdir(
            os.path.join(os.path.dirname(newest), "ckpt", "commits")
        )
        if not f.startswith(".")
    ]
    assert len(commits) == 3, commits


def test_admission_verdict_semantics_dirty_probe(spark):
    """At sf0.001 PROBE_DOC 0 is contaminated (the r13 fixture pin) —
    the gate must reject it with n_contam > 0 while clean docs stay
    admitted; and every rejected doc carries a nonzero tier count."""
    rows = registry.QUERIES["q_stream_admission"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    byid = {r["doc_id"]: r for r in rows}
    assert byid[0]["n_contam"] > 0 and byid[0]["admitted"] == 0
    for r in rows:
        if r["admitted"] == 0:
            assert r["exact_dup"] + r["n_near_cand"] + r["n_contam"] > 0
        else:
            assert (
                r["exact_dup"] == 0
                and r["n_near_cand"] == 0
                and r["n_contam"] == 0
            )


def test_admission_gate_empty_batch(spark):
    """An empty incoming batch (degenerate corpus with no probe-range
    docs) must yield an empty verdict frame with the full schema —
    values_df has no empty form, so the gate needs an explicit
    guard."""
    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.streaming.admission import admission_gate

    probes = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < 0)
        .select("doc_id", "text")
    )
    df = admission_gate(spark, SF_DIR, probes)
    assert df.collect() == []
    assert df.columns == [
        "doc_id",
        "exact_dup",
        "n_near_cand",
        "n_windows",
        "n_contam",
        "admitted",
    ]

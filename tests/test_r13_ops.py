"""Round-13 operator invariants: the decontamination serving path
(q_dedup_decontam_served / _batch — the third materialized-index
serving twin, after ivf_served r11 and lsh_served r12) and the
incremental band-index maintenance path (q_dedup_lsh_upsert)."""

from __future__ import annotations

import re

from datafusion_tpc_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def _final_plan(df):
    return (
        df._jdf.queryExecution().executedPlan().toString().split(
            "Initial Plan"
        )[0]
    )


def _partitions_read(df):
    """(partitions read, partitions in the table) for each scan of a
    partitioned Parquet table in df's final (post-AQE) plan, from the
    scan's "number of partitions read" metric — the partition-pruning
    twin of SelectedBucketsCount."""
    from tests.test_plans import _walk

    return [
        (
            n.metrics().apply("numPartitions").value(),
            n.relation().location().partitionSpec().partitions().size(),
        )
        for n in _walk(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and n.relation().partitionSchema().nonEmpty()
    ]


def test_decontam_served_plan_is_partition_pruned_and_window_free(spark):
    """q_dedup_decontam_served: the serving plan must (a) read the
    train-span index partition-pruned to the probe's distinct hashes
    (partitions read <= min(|probe hashes|, _SRV_BUCKETS), out of
    _SRV_BUCKETS), (b) contain ZERO corpus windowing lineage (no
    Generate/explode — the corpus was windowed once at index write;
    the probe's own windows were computed and collected before this
    plan), and (c) scan only the index — documents.parquet must not
    appear.

    Gated at sf0.001 ON PURPOSE: there PROBE_DOC is contaminated
    (7/7 windows) so the pruned read survives into the final plan; at
    sf0.01 every fixture probe is clean and AQE's empty-relation
    propagation elides the index read entirely — itself the correct
    runtime behavior (the clean-probe fast path), asserted below in
    test_decontam_served_clean_probe_elides_read."""
    from datafusion_tpc_spark.operators.decontam_served import (
        _SRV_BUCKETS,
        PROBE_DOC,
        _probe_hash_counts,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    df = registry.QUERIES["q_dedup_decontam_served"](spark, sf)
    rows = df.collect()
    assert rows[0]["n_contam"] > 0, "fixture drift: probe no longer dirty"
    final = _final_plan(df)
    n_hashes = len(
        {
            r["h"]
            for r in _probe_hash_counts(
                spark, sf, F.col("doc_id") == PROBE_DOC
            )
        }
    )
    [(read, total)] = _partitions_read(df)
    assert 1 <= read <= min(n_hashes, _SRV_BUCKETS), (read, n_hashes)
    assert total == _SRV_BUCKETS
    assert final.count("Scan parquet") == 1
    assert "documents.parquet" not in final, "corpus scan in serving plan"
    assert "Generate" not in final, "corpus windowing lineage in serving plan"


def test_decontam_index_served_across_processes(spark):
    """The index is built once per source fingerprint, not once per
    process: after it is published, a child Python process with a
    fresh SparkSession serves q_dedup_decontam_served at sf0.001 with
    the same rows and writes nothing under the cache root — no
    per-process `<tag>_dcs-<fp>-<pid>` copy."""
    import os
    import subprocess
    import sys

    from datafusion_tpc_spark.operators.decontam_served import _CACHE_ROOT

    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    fn = registry.QUERIES["q_dedup_decontam_served"]
    want = [tuple(r) for r in fn(spark, sf).collect()]

    def snapshot():
        out = {}
        for d, dirs, files in os.walk(_CACHE_ROOT):
            for n in dirs + files:
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_mtime_ns, st.st_size)
        return out

    before = snapshot()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = f"""
import sys
sys.path.insert(0, {repo!r})
from datafusion_tpc_spark import registry
from datafusion_tpc_spark.session import get_spark
registry.load_all()
spark = get_spark(app_name="dcs-child", cpus=2, shuffle_partitions=2)
fn = registry.QUERIES["q_dedup_decontam_served"]
print([tuple(r) for r in fn(spark, {sf!r}).collect()])
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == repr(want)
    assert snapshot() == before, "a serving process wrote to the index cache"


def test_decontam_served_clean_probe_elides_read(spark):
    """At SF_DIR (sf0.01) every fixture probe is CLEAN (zero
    contaminated windows), and the serving plan's runtime must
    degrade gracefully: AQE's empty-relation propagation removes the
    index read from the final plan (the broadcast contam stage
    reported 0 rows), the answer is still the correct all-clean row,
    and the corpus is still never scanned."""
    df = registry.QUERIES["q_dedup_decontam_served"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["n_contam"] == 0
    full = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in full
    assert "Generate" not in full.split("Initial Plan")[0]


def test_decontam_served_matches_batch_audit(spark):
    """The index is a physical change only: the served row must be
    exactly q_dedup_decontam's row for the probe doc — same
    n_windows, n_contam, contam_frac."""
    from datafusion_tpc_spark.operators.decontam_served import PROBE_DOC

    served = registry.QUERIES["q_dedup_decontam_served"](
        spark, SF_DIR
    ).collect()
    assert len(served) == 1
    audit = {
        r["doc_id"]: r
        for r in registry.QUERIES["q_dedup_decontam"](spark, SF_DIR).collect()
    }
    s, a = served[0], audit[PROBE_DOC]
    assert (s["n_windows"], s["n_contam"]) == (a["n_windows"], a["n_contam"])
    assert abs(s["contam_frac"] - a["contam_frac"]) < 1e-9


def test_decontam_served_batch_matches_singles_and_audit(spark):
    """Batch rows must be identical to (a) running the single-probe
    plan per doc and (b) the batch audit's rows for the probe set —
    and the probe set itself must be exactly the test-split docs
    under BATCH_LT (non-empty on every shipped fixture)."""
    from pyspark.sql import functions as F

    from datafusion_tpc_spark.operators.decontam_served import (
        BATCH_LT,
        _served,
    )

    batch = registry.QUERIES["q_dedup_decontam_served_batch"](
        spark, SF_DIR
    ).collect()
    assert len(batch) >= 1
    audit = {
        r["doc_id"]: r
        for r in registry.QUERIES["q_dedup_decontam"](spark, SF_DIR).collect()
    }
    expect_ids = sorted(d for d in audit if d < BATCH_LT)
    assert [r["doc_id"] for r in batch] == expect_ids
    for r in batch:
        a = audit[r["doc_id"]]
        assert (r["n_windows"], r["n_contam"]) == (
            a["n_windows"],
            a["n_contam"],
        )
        single = _served(
            spark, SF_DIR, F.col("doc_id") == r["doc_id"]
        ).collect()
        assert len(single) == 1
        assert (single[0]["n_windows"], single[0]["n_contam"]) == (
            r["n_windows"],
            r["n_contam"],
        )


def test_lsh_upsert_identical_to_full_rebuild(spark):
    """Incremental maintenance is a physical change only: serving
    from the upserted index (base corpus built without the batch +
    appended batch band rows) must produce exactly
    q_dedup_lsh_served's candidates from the full-corpus rebuild."""
    a = registry.QUERIES["q_dedup_lsh_upsert"](spark, SF_DIR).collect()
    b = registry.QUERIES["q_dedup_lsh_served"](spark, SF_DIR).collect()
    assert len(a) >= 1
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_upsert_ingest_is_batch_only_and_pruned(spark):
    """(a) The maintenance write's source plan must read documents
    with the batch predicate PUSHED to the scan (no corpus recompute
    — the whole point of incremental maintenance); (b) the post-
    upsert serving plan must still be bucket-pruned across both file
    generations (base + appended) with zero mining lineage."""
    from datafusion_tpc_spark.operators.lsh_served import (
        _BANDS,
        _SRV_BUCKETS,
        _ingest_projection,
    )

    from datafusion_tpc_spark.operators.lsh_served import BATCH_N

    ingest = _ingest_projection(spark, SF_DIR)
    iplan = ingest._jdf.queryExecution().executedPlan().toString()
    # Regex built from the imported constant (ADVICE r13): a BATCH_N
    # change must not fail this assertion for the wrong reason.
    assert re.search(
        rf"PushedFilters: \[.*LessThan\(doc_id,{BATCH_N}\)", iplan
    ), iplan
    assert iplan.count("Scan parquet") == 1

    df = registry.QUERIES["q_dedup_lsh_upsert"](spark, SF_DIR)
    df.collect()
    final = _final_plan(df)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", final)
    assert m, final
    assert int(m.group(1)) <= _BANDS
    assert int(m.group(2)) == _SRV_BUCKETS
    assert final.count("Scan parquet") == 1
    assert "Generate" not in final, "corpus mining lineage in serving plan"


def test_lsh_upsert_multi_generation(spark):
    """The maintenance loop holds over SUCCESSIVE ingest batches: a
    3-generation table (base corpus, then two appended batches) must
    (a) serve the probe with rows identical to the full rebuild, and
    (b) keep SelectedBucketsCount pruning across all three file
    generations — the production loop is append-per-batch forever,
    not the single append q_dedup_lsh_upsert demonstrates."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from datafusion_tpc_spark.catalog import load_table
    from datafusion_tpc_spark.operators.lsh_served import (
        _SRV_BUCKETS,
        _band_projection,
        _serve_probe,
    )

    name = "lsh_upsert_gen3_test"
    path = os.path.join("/tmp", "lsh_upsert_gen3_test")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(path, ignore_errors=True)
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    slices = (
        F.col("doc_id") >= 20,                                # base corpus
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 20),     # ingest 1
        F.col("doc_id") < 10,                                 # ingest 2
    )
    for i, pred in enumerate(slices):
        mode = "overwrite" if i == 0 else "append"
        (
            _band_projection(docs.filter(pred))
            .write.mode(mode)
            .option("path", path)
            .bucketBy(_SRV_BUCKETS, "bkey")
            .sortBy("bkey")
            .saveAsTable(name)
        )
    try:
        df = _serve_probe(spark, SF_DIR, name)
        rows = df.collect()
        full = registry.QUERIES["q_dedup_lsh_served"](spark, SF_DIR).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, full))
        final = _final_plan(df)
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", final)
        assert m and int(m.group(2)) == _SRV_BUCKETS, final
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)

"""Streaming ingest ADMISSION GATE (r14) — the capstone composition
the three serving indexes point at: a stream of incoming documents is
screened per micro-batch through the materialized exact-digest,
LSH-band and train-span indexes, and each document leaves with its
gate verdict. This is how dedup/decontam admission control actually
runs in a training-data pipeline (lsh_served.py's "streaming dedup
admission" claim, made real): documents arrive continuously, the
corpus indexes are the accumulated state, and each arrival costs one
local fingerprint pass plus bucket/partition-pruned point reads —
never a corpus scan. Reference has no streaming or write path at all
(src/object_store/file.rs:215-228 is todo!()).

Tiers (each served from its own materialized index):
1. exact: md5(text) against a bucketed (doc_id, h) digest table —
   the q_dedup_incr check, served from an index instead of a corpus
   re-hash; self-matches excluded by doc_id.
2. near-dup: the doc's 4 LSH band keys against operators/
   lsh_served.py's band index (shared _lsh_index — one index, both
   consumers); candidates = distinct partner docs sharing a band.
3. contamination: TEST-split docs' strided window hashes against
   operators/decontam_served.py's partitioned train-span index
   (shared _train_span_index, published once per source fingerprint
   and read partition-pruned); train-split arrivals skip this tier
   (they are joining the train side, not being evaluated against
   it).

admitted = no exact dup AND no near-dup candidate AND no
contaminated window.

Determinism: every document's verdict depends only on (its text, the
fixed corpus indexes) — the gate is independent of micro-batch
partitioning, so the streamed result equals the one-shot batch gate
over the same probe set (pinned in tests/test_r14_ops.py) and the
query carries an EXACT DuckDB oracle (the third exactly-oracled
streaming query, after q_stream_sink and q_stream_merge) that
recomputes all three indexes in SQL.

100 TB design: per-batch cost is |batch| local fingerprints plus
three pruned point reads (SelectedBucketsCount / PartitionFilters
plus hash IN-lists — the serving plans, unchanged) and one appended
verdict file; the indexes are maintained out-of-band by the upsert legs
(q_dedup_lsh_upsert / q_sim_ivf_upsert / q_dedup_decontam_upsert),
so gate throughput is independent of corpus size end to end.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
import uuid

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import (
    load_table,
    materialize,
    pid_alive,
    sanitized_sf_tag,
    session_table,
    source_fingerprint,
)
from datafusion_tpc_spark.functions.digest import (
    SPLIT_VAL_LT,
    h60,
    split_bucket,
)
from datafusion_tpc_spark.functions.literals import values_df
from datafusion_tpc_spark.operators.dedup import _WIN_EXPR
from datafusion_tpc_spark.operators.decontam_served import (
    _DCS_WINS,
    _point_read,
    _train_span_index,
)
from datafusion_tpc_spark.operators.lsh_served import (
    BATCH_N,
    _band_projection,
    _lsh_index,
)
from datafusion_tpc_spark.functions.shingles import SHINGLES_DUCK
from datafusion_tpc_spark.operators.dedup import _BAND_SELECTS, _MIN_EXPRS
from datafusion_tpc_spark.registry import query

_SRV_BUCKETS = 16  # digest index buckets (the lsh/decontam sizing)
_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
    ".cache",
    "stream_admission",
)
_SLICE_BOUNDS = (4, 7)  # micro-batches: [0,4), [4,7), [7,BATCH_N)

# run output dirs created by this process — excluded from pruning so
# a prior call's lazily-read verdict frame stays on disk (the
# stream_merge _LIVE_RUNS pattern)
_LIVE_RUNS: set[str] = set()


def _digest_index(spark, sf_dir: str) -> str:
    """Ensure the bucketed (doc_id, h=md5(text)) exact-digest table
    exists for this source fingerprint; return its catalog name. The
    persisted form of q_dedup_incr's corpus digest set (its docstring
    names exactly this index as the at-scale shape). Same
    catalog.session_table story as the lsh/decontam indexes."""
    st = source_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    fp = hashlib.md5(f"{st}:{_SRV_BUCKETS}".encode()).hexdigest()[:12]
    tag = sanitized_sf_tag(sf_dir)
    name = f"adm_digests_{tag}_{fp}"

    def build(d: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", F.md5("text").alias("h"))
            .write.mode("overwrite")
            .option("path", os.path.join(d, "digests"))
            .bucketBy(_SRV_BUCKETS, "h")
            .sortBy("h")
            .saveAsTable(name)
        )

    return session_table(spark, _CACHE_ROOT, name, f"{tag}_adm-{fp}", build)


def admission_gate(spark, sf_dir: str, batch_df, timings: dict | None = None):
    """The per-batch gate body shared by the streaming foreachBatch
    and the one-shot batch form: screen ``batch_df`` (doc_id, text)
    through the three indexes; return one verdict row per input doc.

    Serving shape per tier: fingerprint the batch in-engine (bounded
    collects — |batch| digests, ≤|batch|·4 band keys, ≤|batch
    chars|/16 window hashes), re-enter each as a VALUES literal, and
    read each index pruned to the batch's own keys (bucket- or
    partition-pruned point reads — plan-gated in
    tests/test_r14_ops.py). Zero corpus lineage anywhere.

    Why the gate has NO SortMergeJoin fallback (r16, symmetry check
    vs decontam_served._merge_ingest_batch's dual form): the measured
    IN-list crossover (~0.9 ms/literal of driver plan cost, BASELINE
    r15) applies here too, but the SMJ alternative's price is one
    FULL index scan per execution. The merge executes once per ingest
    batch on the maintenance path, where a corpus-proportional scan
    can amortize against a 10⁵-hash batch; the gate executes once per
    TRIGGER on the serving path, where corpus-proportional work in
    the latency budget is exactly what the zero-corpus-lineage plan
    gate forbids — at 100 TB an index scan per micro-batch IS the
    outage. The probe volume is bounded by construction instead: the
    stream reads with maxFilesPerTrigger=1, so a batch is one ingest
    file, and per doc the fingerprints are 1 digest + _BANDS band
    keys + ≤|chars|/16 window hashes. An ingest whose file sizing
    approaches the 10⁴-literal crossover shrinks the trigger file
    size (the knob bench_admission_budget measured flat across a 10×
    corpus axis) rather than switching plans — at fixed batch size
    the probe cost is independent of corpus scale, which is the
    scaling property that matters.

    ``timings``, when given, accumulates the gate's driver-side cost
    split (tools/bench_admission_budget.py): 'fingerprint_collect_s'
    covers the three bounded collects; the returned frame is lazy, so
    its index reads/joins execute at the caller's action."""
    dig_name = _digest_index(spark, sf_dir)
    lsh_name = _lsh_index(spark, sf_dir)
    span_name = _train_span_index(spark, sf_dir)

    # --- batch fingerprints (ONE bounded collect, in-engine exprs).
    # The three tiers' fingerprints are fused into a single tagged
    # union so the gate pays one driver round-trip per micro-batch
    # instead of three — the r15 latency-budget split measured the
    # per-collect Py4J overhead, not data volume, as the dominant
    # fingerprint cost at small batch sizes. Row bound unchanged:
    # |batch| digests + ≤|batch|·4 band keys + ≤|batch chars|/16
    # window hashes. ---
    t0 = time.perf_counter()
    dig = batch_df.select(
        F.lit("d").alias("tier"),
        "doc_id",
        F.md5("text").alias("s"),
        F.lit(0).cast("long").alias("n"),
    )
    bands = _band_projection(batch_df.select("doc_id", "text")).select(
        F.lit("b").alias("tier"),
        "doc_id",
        F.col("bkey").alias("s"),
        F.col("band").cast("long").alias("n"),
    )
    spans = (
        batch_df.filter(split_bucket() >= SPLIT_VAL_LT)
        .select("doc_id", F.explode(F.expr(_WIN_EXPR)).alias("w"))
        .select("doc_id", h60(F.col("w")).alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit("s").alias("tier"),
            "doc_id",
            F.col("h").cast("string").alias("s"),
            F.col("cnt").alias("n"),
        )
    )
    fp_rows = dig.unionAll(bands).unionAll(spans).collect()
    dig_rows = [
        {"doc_id": r["doc_id"], "h": r["s"]}
        for r in fp_rows
        if r["tier"] == "d"
    ]
    band_rows = [
        {"doc_id": r["doc_id"], "band": int(r["n"]), "bkey": r["s"]}
        for r in fp_rows
        if r["tier"] == "b"
    ]
    span_rows = [
        {"doc_id": r["doc_id"], "h": int(r["s"]), "cnt": r["n"]}
        for r in fp_rows
        if r["tier"] == "s"
    ]
    if timings is not None:
        timings["fingerprint_collect_s"] = (
            timings.get("fingerprint_collect_s", 0.0)
            + time.perf_counter()
            - t0
        )
    if not dig_rows:
        # empty batch (degenerate corpus with no probe-range docs):
        # empty verdict frame with the full schema — values_df has no
        # empty form, so filter a sentinel row away
        return _empty_verdicts(spark)

    base = values_df(
        spark, [(r["doc_id"],) for r in dig_rows], "doc_id long"
    )

    # --- tier 1: exact digest ---
    dprobe = values_df(
        spark,
        [(r["doc_id"], r["h"]) for r in dig_rows],
        "qid long, hx string",
    )
    didx = spark.table(dig_name).filter(
        F.col("h").isin([r["h"] for r in dig_rows])  # bucket-pruning literal
    )
    exact = (
        didx.join(
            F.broadcast(dprobe),
            (didx.h == dprobe.hx) & (didx.doc_id != dprobe.qid),
        )
        .groupBy("qid")
        .agg(F.lit(1).cast("bigint").alias("exact_dup"))
    )

    # --- tier 2: LSH near-dup candidates ---
    if band_rows:
        bprobe = values_df(
            spark,
            [(r["doc_id"], r["band"], r["bkey"]) for r in band_rows],
            "qid long, band int, bkey string",
        )
        bidx = spark.table(lsh_name).filter(
            F.col("bkey").isin(sorted({r["bkey"] for r in band_rows}))
        )
        near = (
            bidx.join(
                F.broadcast(bprobe),
                (bidx.band == bprobe.band)
                & (bidx.bkey == bprobe.bkey)
                & (bidx.doc_id != bprobe.qid),
            )
            .groupBy("qid")
            .agg(
                F.count_distinct(bidx.doc_id).cast("bigint").alias("n_near_cand")
            )
        )
    else:
        near = values_df(spark, [(-1, 0)], "qid long, n_near_cand long").filter(
            F.col("qid") >= 0
        )

    # --- tier 3: train-span contamination (test-split docs only) ---
    n_win = {}
    for r in span_rows:
        n_win[r["doc_id"]] = n_win.get(r["doc_id"], 0) + r["cnt"]
    if span_rows:
        sprobe = values_df(
            spark,
            [(r["doc_id"], r["h"], r["cnt"]) for r in span_rows],
            "qid long, h long, cnt long",
        )
        sidx = _point_read(
            spark.table(span_name), sorted({r["h"] for r in span_rows})
        )
        contam = (
            sidx.join(F.broadcast(sprobe), "h")
            .groupBy("qid")
            .agg(F.sum("cnt").cast("bigint").alias("n_contam"))
        )
    else:
        contam = values_df(spark, [(-1, 0)], "qid long, n_contam long").filter(
            F.col("qid") >= 0
        )
    wins = values_df(
        spark,
        sorted(n_win.items()) or [(-1, 0)],
        "qid long, n_windows long",
    ).filter(F.col("qid") >= 0)

    return (
        base.join(exact, base.doc_id == exact.qid, "left")
        .drop("qid")
        .join(F.broadcast(wins), base.doc_id == wins.qid, "left")
        .drop("qid")
        .join(near, base.doc_id == near.qid, "left")
        .drop("qid")
        .join(contam, base.doc_id == contam.qid, "left")
        .drop("qid")
        .select(
            "doc_id",
            F.coalesce(F.col("exact_dup"), F.lit(0)).cast("bigint").alias(
                "exact_dup"
            ),
            F.coalesce(F.col("n_near_cand"), F.lit(0)).cast("bigint").alias(
                "n_near_cand"
            ),
            F.coalesce(F.col("n_windows"), F.lit(0)).cast("bigint").alias(
                "n_windows"
            ),
            F.coalesce(F.col("n_contam"), F.lit(0)).cast("bigint").alias(
                "n_contam"
            ),
        )
        .withColumn(
            "admitted",
            (
                (F.col("exact_dup") == 0)
                & (F.col("n_near_cand") == 0)
                & (F.col("n_contam") == 0)
            )
            .cast("bigint"),
        )
    )


def _empty_verdicts(spark):
    return values_df(
        spark,
        [(-1, 0, 0, 0, 0, 0)],
        "doc_id long, exact_dup long, n_near_cand long,"
        " n_windows long, n_contam long, admitted long",
    ).filter(F.col("doc_id") >= 0)


def _fixture_dir(spark, sf_dir: str) -> str:
    """3-slice replay fixture of the probe docs (doc_id < BATCH_N),
    one parquet file per micro-batch — the late_data.py pattern
    (fingerprinted dir, catalog.materialize publish)."""
    st = source_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    # ':' is not path-safe for Hadoop; keep the '-' separated key form
    key = f"{sanitized_sf_tag(sf_dir)}_admfix-{st.replace(':', '-')}-{BATCH_N}"

    def build(tmp: str) -> None:
        import glob as _glob

        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < BATCH_N)
            .select("doc_id", "text")
        )
        bounds = (0, *_SLICE_BOUNDS, BATCH_N)
        for j in range(len(bounds) - 1):
            part = docs.filter(
                (F.col("doc_id") >= bounds[j]) & (F.col("doc_id") < bounds[j + 1])
            )
            stage = os.path.join(tmp, f"stage{j}")
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            src = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(src, os.path.join(tmp, f"{j:02d}.parquet"))
            shutil.rmtree(stage, ignore_errors=True)

    return materialize(_CACHE_ROOT, key, build)


def run_admission_stream(spark, sf_dir: str, timings: dict | None = None):
    """Drain the 3-slice probe replay through the foreachBatch gate;
    returns the final verdict DataFrame (one row per probe doc).

    ``timings`` (tools/bench_admission_budget.py) accumulates the
    drain's cost split: 'fingerprint_collect_s' (gate driver collects),
    'verdict_exec_s' (index reads + joins + parquet append, executed
    at the per-batch write), 'n_batches'. Total drain wall minus those
    is the streaming machinery itself (trigger scheduling + checkpoint
    commits)."""
    fixture = _fixture_dir(spark, sf_dir)
    # build the indexes BEFORE the stream starts — arrivals race the
    # gate, not the index builds (production: indexes precede intake)
    _digest_index(spark, sf_dir)
    _lsh_index(spark, sf_dir)
    _train_span_index(spark, sf_dir)
    if os.path.isdir(_CACHE_ROOT):
        for stale in os.listdir(_CACHE_ROOT):
            if not stale.startswith("run_") or stale in _LIVE_RUNS:
                continue
            # The run dir embeds its owning PID (ADVICE r14): a
            # concurrent process (driver rehearsal alongside bench)
            # must not have its in-flight checkpoint/verdict dir
            # rmtree'd mid-stream. Prune only dirs whose owner is
            # this process (stale from an earlier call here) or dead.
            m = re.match(r"run_(\d+)_", stale)
            if m:
                pid = int(m.group(1))
                if pid != os.getpid() and pid_alive(pid):
                    continue
            shutil.rmtree(
                os.path.join(_CACHE_ROOT, stale), ignore_errors=True
            )
    run_name = f"run_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    _LIVE_RUNS.add(run_name)
    root = os.path.join(_CACHE_ROOT, run_name)
    out = os.path.join(root, "verdicts")

    def gate_batch(bdf, batch_id: int):
        if bdf.isEmpty():
            return
        verdicts = admission_gate(bdf.sparkSession, sf_dir, bdf, timings)
        t0 = time.perf_counter()
        verdicts.write.mode("append").parquet(out)
        if timings is not None:
            timings["verdict_exec_s"] = (
                timings.get("verdict_exec_s", 0.0) + time.perf_counter() - t0
            )
            timings["n_batches"] = timings.get("n_batches", 0) + 1

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(fixture)
    )
    q = (
        src.writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not os.path.isdir(out):
        # every micro-batch was empty (degenerate corpus with no
        # probe-range docs): no verdict file was ever appended
        return _empty_verdicts(spark)
    return spark.read.parquet(out).orderBy(F.col("doc_id").asc_nulls_last())


_ADMISSION_ORACLE = f"""
    WITH sh AS ({SHINGLES_DUCK}),
    sig AS (SELECT doc_id, {_MIN_EXPRS} FROM sh GROUP BY doc_id),
    bands AS (
      {_BAND_SELECTS}
    ),
    {_DCS_WINS},
    probes AS (
      SELECT doc_id, md5(text) AS hx FROM documents
      WHERE doc_id < {BATCH_N}
    ),
    alldig AS (SELECT doc_id, md5(text) AS hx FROM documents),
    exact AS (
      SELECT p.doc_id,
             CAST(CASE WHEN EXISTS (
               SELECT 1 FROM alldig d
               WHERE d.hx = p.hx AND d.doc_id <> p.doc_id
             ) THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
      FROM probes p
    ),
    near AS (
      SELECT pb.doc_id,
             CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_near_cand
      FROM (SELECT * FROM bands WHERE doc_id < {BATCH_N}) pb
      JOIN bands b
        ON b.band = pb.band AND b.bkey = pb.bkey AND b.doc_id <> pb.doc_id
      GROUP BY pb.doc_id
    ),
    test_w AS (
      SELECT doc_id, h FROM wins
      WHERE doc_id < {BATCH_N} AND bucket >= {SPLIT_VAL_LT}
    ),
    contam AS (
      SELECT w.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(COUNT(t.h) AS BIGINT) AS n_contam
      FROM test_w w LEFT JOIN train_h t USING (h)
      GROUP BY w.doc_id
    )
    SELECT p.doc_id,
           e.exact_dup,
           CAST(COALESCE(n.n_near_cand, 0) AS BIGINT) AS n_near_cand,
           CAST(COALESCE(c.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(c.n_contam, 0) AS BIGINT) AS n_contam,
           CAST(CASE WHEN e.exact_dup = 0
                      AND COALESCE(n.n_near_cand, 0) = 0
                      AND COALESCE(c.n_contam, 0) = 0
                THEN 1 ELSE 0 END AS BIGINT) AS admitted
    FROM probes p
    JOIN exact e USING (doc_id)
    LEFT JOIN near n USING (doc_id)
    LEFT JOIN contam c USING (doc_id)
    ORDER BY doc_id ASC NULLS LAST
"""


@query("q_stream_admission", oracle=_ADMISSION_ORACLE)
def q_stream_admission(spark, sf_dir):
    """Streaming ingest admission gate over the three materialized
    serving indexes: the probe docs (doc_id < {BATCH_N}) arrive as a
    3-slice file-source replay (maxFilesPerTrigger=1, availableNow)
    and each micro-batch is screened through the exact-digest,
    LSH-band and train-span indexes inside foreachBatch — bounded
    fingerprint collects, VALUES-literal probes, bucket-pruned index
    point reads (the serving plans, unchanged; plan-gated on the
    one-shot gate body in tests/test_r14_ops.py). Each doc's verdict
    depends only on (text, fixed indexes), so the streamed result is
    micro-batch-partitioning-independent and equals the one-shot
    batch gate (pinned) — which is what makes an EXACT oracle
    possible for a streaming query: DuckDB recomputes all three
    indexes in SQL."""
    return run_admission_stream(spark, sf_dir)

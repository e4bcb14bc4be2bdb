"""Span-level decontamination SERVING from a materialized train-split
span-hash index — the third serving path, completing the trilogy with
operators/ivf_served.py (ANN) and operators/lsh_served.py (near-dup
admission). Reference has no serving or write path at all
(src/object_store/file.rs:215-228 is todo!()).

The batch audit (q_dedup_decontam, operators/dedup.py) recomputes the
strided L=32/S=16 windows of the WHOLE corpus on every run to answer
"how contaminated is each test doc". The production question at eval
time is the point form: "is THIS benchmark/eval document leaked into
the train split, and how much?" — asked per incoming doc, long after
the train corpus was indexed. So materialize the train side ONCE per
source fingerprint — the DISTINCT h60 of every train-split window,
one 8-byte hash per row, in a parquet directory partitioned on
``p = pmod(h, _SRV_BUCKETS)`` (catalog.materialize, shared by every
process and published atomically) — and serve each probe as: window
THIS doc in-engine (one pushed-down point read), collect its bounded
per-hash counts, and read only the index partitions those hashes land
in (``p IN (...)`` PartitionFilters plus the pushed ``h IN (...)`` —
plan-gated). A session reads the index once (catalog.memo_read, with
an explicit schema so no inference job runs) and registers it as a
temp view. Zero corpus windowing lineage in the serving plan.

At 100 TB: the index is ≤ |train chars|/S distinct 8-byte hashes —
payload text never enters it — and each probe costs one local window
pass + a partition-pruned read bounded by the PROBE's window count,
not the corpus size. This is how eval-set decontamination actually
runs as admission control (the GPT-3/PaLM n-gram overlap check,
served), and composes with q_dedup_lsh_served (near-dup tier) and
q_dedup_incr (exact tier) into the full ingest gate.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import (
    load_table,
    materialize,
    memo_read,
    register_view,
    sanitized_sf_tag,
    source_fingerprint,
)
from datafusion_tpc_spark.functions.digest import (
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    _h60_duck,
    h60,
    split_bucket,
    split_bucket_duck,
)
from datafusion_tpc_spark.functions.literals import values_df
from datafusion_tpc_spark.registry import query

# Same strided windowing / split convention as q_dedup_decontam
# (operators/dedup.py) — the served answer must match the batch
# audit's row for the probe doc exactly; pinned in
# tests/test_r13_ops.py.
from datafusion_tpc_spark.operators.dedup import (  # noqa: E402
    _SUB_L,
    _SUB_S,
    _WIN_EXPR,
    _WINS_DUCK,
)

PROBE_DOC = 0  # test-split (bucket 98) at sf0.001/0.01/0.1, with
               # 7/8/≥1 windows — short enough that its distinct-hash
               # IN-list prunes partitions even on the tiny fixture
BATCH_LT = 40  # batched probe set: test-split docs with doc_id <
               # BATCH_LT — [0, 9, 17] at every shipped sf
_SRV_BUCKETS = 16  # index partitions: p = pmod(h, _SRV_BUCKETS)
_SPAN_SCHEMA = "h long, p int"
_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
    ".cache",
    "decontam_served",
)


def _train_hashes(docs):
    """DISTINCT window hashes of the train-split docs in ``docs``."""
    return (
        docs.filter(split_bucket() < SPLIT_TRAIN_LT)
        .select(F.explode(F.expr(_WIN_EXPR)).alias("s"))
        .select(h60(F.col("s")).alias("h"))
        .distinct()
    )


def _write_spans(hashes, path: str) -> None:
    """Write DISTINCT span hashes in the served layout: one parquet
    file per ``p = pmod(h, _SRV_BUCKETS)`` partition, h-sorted."""
    (
        hashes.withColumn("p", F.expr(f"pmod(h, {_SRV_BUCKETS})").cast("int"))
        .repartition(_SRV_BUCKETS, "p")
        .sortWithinPartitions("p", "h")
        .write.mode("overwrite")
        .partitionBy("p")
        .parquet(path)
    )


def _read_spans(spark, path: str):
    """The session's one read of a published span directory."""
    return memo_read(
        spark, path, lambda: spark.read.schema(_SPAN_SCHEMA).parquet(path)
    )


def _point_read(idx, hs):
    """Rows of span index ``idx`` whose h is in ``hs``, read from only
    the partitions those hashes land in (h60 is non-negative, so
    Python's ``%`` is Spark's pmod)."""
    ps = sorted({h % _SRV_BUCKETS for h in hs})
    return idx.filter(F.col("p").isin(ps) & F.col("h").isin(hs))


def _index_fingerprint(sf_dir: str) -> str:
    """Source+recipe fingerprint for the train-span index. Exposed as
    a helper (ADVICE r13) so tests targeting the index derive its
    name from HERE instead of re-deriving the recipe inline — a
    recipe change must not silently retarget them at a stale name."""
    st = source_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    return hashlib.md5(
        f"{st}:{_SUB_L}:{_SUB_S}:"
        f"{SPLIT_TRAIN_LT}:{_SRV_BUCKETS}".encode()
    ).hexdigest()[:12]


def _index_table_name(sf_dir: str) -> str:
    return f"train_spans_{sanitized_sf_tag(sf_dir)}_{_index_fingerprint(sf_dir)}"


def _train_span_index(spark, sf_dir: str) -> str:
    """Ensure the partitioned train-span-hash index is published for
    this source fingerprint and registered as this session's temp
    view; return the view name. The directory is built once by
    whichever process gets there first (catalog.materialize); later
    processes and sessions only read it."""
    fp = _index_fingerprint(sf_dir)

    def build(d: str) -> None:
        _write_spans(_train_hashes(load_table(spark, sf_dir, "documents")), d)

    path = materialize(_CACHE_ROOT, f"{sanitized_sf_tag(sf_dir)}_dcs-{fp}", build)
    name = _index_table_name(sf_dir)
    register_view(spark, name, _read_spans(spark, path))
    return name


def _probe_hash_counts(spark, sf_dir, pred):
    """The bounded (doc_id, h, cnt) window-hash counts of the probe
    docs selected by ``pred``: one pushed-down read of documents,
    window+hash in the scan projection, ≤ |probe chars|/S window rows
    collected (the ivf_served/lsh_served bounded-probe-list
    precedent) and counted on the driver — one Spark job, no shuffle.
    Only TEST-split docs qualify (the batch audit's bucket >=
    SPLIT_VAL_LT convention)."""
    wins = (
        load_table(spark, sf_dir, "documents")
        .filter(pred)
        .filter(split_bucket() >= SPLIT_VAL_LT)
        .select("doc_id", F.explode(F.expr(_WIN_EXPR)).alias("s"))
        .select("doc_id", h60(F.col("s")).alias("h"))
        .collect()
    )
    counts = Counter((r["doc_id"], r["h"]) for r in wins)
    return [
        {"doc_id": d, "h": h, "cnt": c} for (d, h), c in sorted(counts.items())
    ]


def _served(spark, sf_dir, pred, index_name: str | None = None):
    """Shared serving plan: probe hash counts (bounded collect) →
    one partition-pruned index read filtered to the probes' distinct
    hashes → broadcast probe-count join → per-doc contamination
    rollup. Probe docs with zero contaminated windows still get a
    row (n_contam 0) via the literal base frame — the index join
    only ever ADDS counts. ``index_name`` parameterizes WHICH
    train-span view serves (default: the materialize-once index;
    q_dedup_decontam_upsert passes the incrementally maintained one
    — the two differ in maintenance, never in the read)."""
    rows = _probe_hash_counts(spark, sf_dir, pred)
    n_win = {}
    for r in rows:
        n_win[r["doc_id"]] = n_win.get(r["doc_id"], 0) + r["cnt"]
    if not rows:
        # no windowed probe docs: empty result with the full schema
        return values_df(
            spark,
            [(-1, 0, 0, 0.0)],
            "doc_id long, n_windows long, n_contam long,"
            " contam_frac double",
        ).filter(F.col("doc_id") >= 0)
    hs = sorted({r["h"] for r in rows})
    # VALUES literals, not createDataFrame: the RDD-backed literal
    # frames were 3x the serving read (functions/literals.py, r13)
    base = values_df(
        spark, sorted(n_win.items()), "doc_id long, n_windows long"
    )
    probe_df = values_df(
        spark,
        [(r["doc_id"], r["h"], r["cnt"]) for r in rows],
        "doc_id long, h long, cnt long",
    )
    idx = spark.table(index_name or _train_span_index(spark, sf_dir))
    contam = (
        _point_read(idx, hs)
        .join(F.broadcast(probe_df), "h")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("nc"))
    )
    return (
        base.join(contam, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.coalesce(F.col("nc"), F.lit(0)).cast("bigint").alias(
                "n_contam"
            ),
            F.round(
                F.coalesce(F.col("nc"), F.lit(0))
                * 1.0
                / F.col("n_windows"),
                6,
            ).alias("contam_frac"),
        )
        .orderBy(F.col("doc_id").asc_nulls_last())
    )


_DCS_WINS = f"""
    w0 AS ({_WINS_DUCK}),
    wins AS (
      SELECT doc_id, {_h60_duck("s")} AS h,
             {split_bucket_duck()} AS bucket
      FROM w0
    ),
    train_h AS (SELECT DISTINCT h FROM wins
                WHERE bucket < {SPLIT_TRAIN_LT})"""


_DCS_SERVED_ORACLE = f"""
    WITH {_DCS_WINS},
    test_w AS (SELECT doc_id, h FROM wins
               WHERE doc_id = {PROBE_DOC} AND bucket >= {SPLIT_VAL_LT})
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(t.h) AS BIGINT) AS n_contam,
           ROUND(COUNT(t.h) * 1.0 / COUNT(*), 6) AS contam_frac
    FROM test_w w LEFT JOIN train_h t USING (h)
    GROUP BY w.doc_id
    ORDER BY doc_id ASC NULLS LAST
"""


@query("q_dedup_decontam_served", oracle=_DCS_SERVED_ORACLE)
def q_dedup_decontam_served(spark, sf_dir):
    """Contamination of ONE eval document served from the
    MATERIALIZED train-span index: window the probe doc in-engine
    from a pushed-down point read of documents, collect its bounded
    per-hash counts (≤ |probe chars|/{_SUB_S} rows), and read the
    partitioned DISTINCT-train-hash index pruned to the partitions
    those hashes land in (partitions read ≤ |probe hashes| of
    {_SRV_BUCKETS} — plan-gated). The serving plan scans ONLY the
    index with zero corpus windowing lineage; the answer is
    row-identical to q_dedup_decontam's row for the probe doc
    (pinned in tests/test_r13_ops.py). Oracle recomputes the train
    index in SQL (the materialization is a physical change only)."""
    return _served(spark, sf_dir, F.col("doc_id") == PROBE_DOC)


_DCS_BATCH_ORACLE = f"""
    WITH {_DCS_WINS},
    test_w AS (SELECT doc_id, h FROM wins
               WHERE doc_id < {BATCH_LT} AND bucket >= {SPLIT_VAL_LT})
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(t.h) AS BIGINT) AS n_contam,
           ROUND(COUNT(t.h) * 1.0 / COUNT(*), 6) AS contam_frac
    FROM test_w w LEFT JOIN train_h t USING (h)
    GROUP BY w.doc_id
    ORDER BY doc_id ASC NULLS LAST
"""


@query("q_dedup_decontam_served_batch", oracle=_DCS_BATCH_ORACLE)
def q_dedup_decontam_served_batch(spark, sf_dir):
    """Batched eval-set decontamination from the materialized
    train-span index: ONE partition-pruned index read serves every
    test-split doc in the incoming batch (doc_id < {BATCH_LT} —
    [0, 9, 17] on the shipped fixtures), the composition the
    single-probe path points at. The batch's window hashes come from
    one pushed-down read (collected: bounded at |batch chars| /
    {_SUB_S} rows); the scan prunes to the UNION of their partitions —
    on the tiny fixture the ~30-hash union can cover all
    {_SRV_BUCKETS} partitions (the same honest degeneration as the
    ivf/lsh batch legs; production partition counts are sized to
    O(cluster cores)) — and the broadcast (doc_id, h, cnt) probe
    table fans matches back per doc. Per-doc rows are identical to the single-probe path and to
    q_dedup_decontam's batch-audit rows (pinned in
    tests/test_r13_ops.py)."""
    return _served(spark, sf_dir, F.col("doc_id") < BATCH_LT)


DCS_INGEST_LT = 50  # incremental train batch: train-split docs with
                    # doc_id < DCS_INGEST_LT (~45 docs × ~18 windows
                    # at every shipped sf — the batch is fixed-size
                    # by definition, independent of corpus size)


def _ingest_hashes(spark, sf_dir):
    """The incremental maintenance WRITE's source: DISTINCT window
    hashes of the ingest batch's train-split docs only, from ONE
    pushed-down doc_id < DCS_INGEST_LT read — bounded at
    |batch chars|/{S} rows, never a corpus recompute. Split out so
    tests/test_r14_ops.py can gate the pushed filter on the write
    plan itself."""
    return _train_hashes(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < DCS_INGEST_LT  # pushed-down batch read
        )
    )


# Beyond this many batch hashes the merge switches from the IN-list
# literal plan to the distributed SortMergeJoin form below. The IN-list
# path costs ~0.9 ms per hash of driver/plan work (collect + VALUES
# parse + isin; measured r15, BASELINE.md), linear in the batch, while
# its only advantage is the partition-pruned existing-hash read vs the
# SMJ's one full index scan. 10⁴ (≈9 s of plan cost) is the point
# where the avoided index scan must be worth seconds to justify the
# literals.
_DCS_INLIST_MAX = 10_000


def _merge_ingest_batch(
    spark, base, batch, out: str, inlist_max: int = _DCS_INLIST_MAX
) -> None:
    """Dedupe-on-ingest merge: write to ``out`` (in the served layout)
    the hashes of the distinct-hash ingest ``batch`` that are absent
    from the span index ``base`` — two physical forms, one result:

    - ≤ ``inlist_max`` hashes: bounded collect (|batch chars|/S, same
      bound as the serving probe collect), partition-pruned
      existing-hash point read (the serving read's shape), LEFT ANTI
      against the literals.
    - > ``inlist_max``: the at-scale form — the batch never touches
      the driver; LEFT ANTI as a SortMergeJoin against one scan of
      the index (both sides shuffle on h).

    Keeping only absent hashes preserves the DISTINCT-h invariant the
    serving rollup's SUM depends on. The branch probe is a single
    limit(inlist_max+1) collect — bounded by construction, and its
    rows ARE the IN-list on the small branch, so that path runs
    exactly one batch action and the probe/merge rows cannot diverge
    even under a nondeterministic source. Only the SMJ branch
    persists the batch (VERDICT r16 item 1: on the common small
    branch the probe is the batch's only action, so a cache there is
    pure overhead), so its anti-join write never re-runs the ingest
    windowing lineage. An empty batch writes nothing: ``out`` stays
    an empty index."""
    probe_rows = batch.limit(inlist_max + 1).collect()
    if len(probe_rows) <= inlist_max:
        hs = sorted(int(r["h"]) for r in probe_rows)
        if hs:  # values_df has no empty form
            batch_df = values_df(spark, [(h,) for h in hs], "h long")
            existing = _point_read(base, hs).select("h")
            _write_spans(batch_df.join(existing, "h", "left_anti"), out)
        return
    batch = batch.persist()
    try:
        # hint('merge') pins the SMJ so the planner cannot broadcast
        # the (by-definition large here) batch side
        new_rows = batch.hint("merge").join(base.select("h"), "h", "left_anti")
        _write_spans(new_rows, out)
    finally:
        batch.unpersist()


def _upserted_span_index(spark, sf_dir: str) -> str:
    """The INCREMENTALLY MAINTAINED train-span index, registered as a
    temp view; returns its name. Two published generations, each a
    catalog.materialize directory in the served layout and read
    together as one view:

    - the base, built once from the pre-existing train corpus
      (doc_id >= DCS_INGEST_LT);
    - the ingest delta, keyed on the ingest fingerprint: the batch's
      hashes absent from the base (_merge_ingest_batch — the
      dedupe-on-ingest merge, since a blind append would double-count
      a batch hash already present in the SUM rollup).

    Maintenance cost is the batch's own windowing + one pruned point
    read + a |new hashes|-row write — independent of corpus size. A
    failed merge publishes no delta (materialize removes its build
    dir and re-raises), so an unmerged index is never served."""
    tag = sanitized_sf_tag(sf_dir)
    fp = _index_fingerprint(sf_dir)
    base_fp = hashlib.md5(f"up:{fp}:{DCS_INGEST_LT}".encode()).hexdigest()[:12]
    # the ingest batch is documents' doc_id < DCS_INGEST_LT, so its
    # fingerprint is the base's (same source, same cut)
    delta_fp = hashlib.md5(f"ingest:{base_fp}".encode()).hexdigest()[:12]

    def build_base(d: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        _write_spans(_train_hashes(docs.filter(F.col("doc_id") >= DCS_INGEST_LT)), d)

    base_path = materialize(_CACHE_ROOT, f"{tag}_dcsup-{base_fp}", build_base)
    base = _read_spans(spark, base_path)

    def build_delta(d: str) -> None:
        _merge_ingest_batch(spark, base, _ingest_hashes(spark, sf_dir), d)

    delta_path = materialize(_CACHE_ROOT, f"{tag}_dcsdelta-{delta_fp}", build_delta)
    view = memo_read(
        spark,
        delta_path,
        lambda: base.unionByName(_read_spans(spark, delta_path)),
        base,
    )
    name = f"train_spans_up_{tag}_{delta_fp}"
    register_view(spark, name, view)
    return name


@query("q_dedup_decontam_upsert", oracle=_DCS_SERVED_ORACLE)
def q_dedup_decontam_upsert(spark, sf_dir):
    """Eval-doc contamination served from the INCREMENTALLY
    MAINTAINED train-span index — the maintenance leg of the
    q_dedup_decontam_served production story (VERDICT r13 item 4,
    symmetrizing the serving trilogy): the partitioned hash index is
    built before the ingest batch exists (train docs with doc_id >=
    DCS_INGEST_LT), the batch's distinct window hashes are MERGED in
    as a second generation (one pushed-down batch read,
    dedupe-on-ingest via a partition-pruned anti-join — no corpus
    rescan, plan-gated in tests/test_r14_ops.py), and the probe is
    served from both generations with the same partition-pruned plan
    as q_dedup_decontam_served. The answer must be IDENTICAL to
    serving from the full-corpus rebuild (pinned; the generations
    share no h by construction) — incremental maintenance is a
    physical change only, so the oracle is _DCS_SERVED_ORACLE
    unchanged.

    At 100 TB this is the train-ingest loop of eval-integrity
    admission control: each accepted train batch maintains the index
    at the cost of its own windowing plus a point read, and the
    serving tier never sees a rebuild."""
    return _served(
        spark,
        sf_dir,
        F.col("doc_id") == PROBE_DOC,
        index_name=_upserted_span_index(spark, sf_dir),
    )

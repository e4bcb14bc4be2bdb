"""IVF coarse-quantizer choreography (round 10, VERDICT r9 item 3) —
registration-free (the functions/digest.py discipline: imported by
BOTH operators/similarity.py and operators/raneval.py, so it must not
register queries of its own, and neither consumer needs to import the
other's registrations).

Replaces the r5 driver-side numpy Lloyd loop (256-vector sample,
5 iterations) with the fully distributed h60-seeded choreography of
operators/kmeans.py (functions/lloyd.py): every step is a DataFrame
op with a DuckDB twin, so q_sim_ivf and q_sim_ivfeval graduate from
rows-only † to EXACT-oracled — the same promotion q_sim_anneval made
in r8 for the sign-LSH family.

Pipeline (Spark side = ivf_candidates, SQL twin = ivf_duck_cte):
1. L2-normalize every vector. The norm is sqrt of an element-order
   fold of squares (Spark aggregate ≡ DuckDB list_sum); sqrt and
   division are IEEE-exact, so normalized components are
   bit-identical cross-engine.
2. Train the coarse quantizer distributed: seed_pick TakeOrdered
   K=8 seeds (tag 'ivf:'), 2 SPHERICAL Lloyd iterations —
   lloyd.assign / lloyd.update followed by centroid re-normalization
   (mean direction, the spherical-k-means convention: on unit
   vectors min-d2 ≡ max-cosine, so cells align with the cosine
   retrieval geometry; without the renorm, measured recall@10 drops
   0.9 → 0.5 on the fixtures). The renorm is sqrt/div over the
   ROUND-6 update state — IEEE-exact, so cross-engine determinism
   is unchanged.
3. Final assignment: one more broadcast argmin pass with label and
   the RAW embedding carried through (no join back to the corpus).
4. Probe selection: the query's nprobe=2 nearest cells by the same
   1e-6-quantized d2 encoding — an 8-row TakeOrdered.
5. Candidates: vectors in the probed cells, scored by exact cosine
   of the RAW embeddings (the q_sim_topk convention — identical
   expression to list_cosine_similarity, ROUND-6).

100 TB: training state is O(k·dim) per iteration (broadcast); the
final assignment is one broadcast argmin scan; the probe filter is a
2-row broadcast join. The corpus is scanned, never shuffled wide,
and nothing funnels through the driver (the r5 version's 256-row
collect is gone).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table, source_fingerprint
from datafusion_tpc_spark.functions.literals import values_df
from datafusion_tpc_spark.functions.digest import _h60_duck, cosine
from datafusion_tpc_spark.functions.lloyd import assign, d2_expr, duck_iter, update
from datafusion_tpc_spark.functions.seeds import seed_pick

IVF_K = 8       # coarse cells (k_cells grows ~√corpus at scale)
IVF_NPROBE = 2  # cells probed
IVF_ITERS = 3   # Lloyd iterations (ADVICE r10: the 3rd restores
                # recall headroom — measured recall@10 0.4 -> 0.5 at
                # sf0.001, 0.6 at sf0.01; the unroll convention of
                # operators/kmeans.py keeps the oracle in lock-step)
IVF_DIM = 64    # embeddings fixture dimension (oracle unroll constant)
QID = 0         # query vector (q_sim_topk convention)

def _norm_expr(col: str) -> str:
    """L2-normalize array column `col` (Spark expr text): the norm is
    bound via the 1-element-transform let — Spark `[0]`, 0-based —
    (r7 projection-collapse gotcha) so the fold runs once per row,
    not once per component. Used for both the raw-input normalize
    (col='emb') and the centroid renorm (col='e') — one idiom, one
    spelling. nullif guards the zero-norm edge (ADVICE r10): an
    all-zero vector (or a centroid update averaging to zero) yields
    NULL components on BOTH engines instead of engine-divergent
    Inf/NaN propagation."""
    return (
        f"transform(array(sqrt(aggregate({col}, cast(0.0 as double), "
        f"(a, x) -> a + x * x))), nrm -> "
        f"transform({col}, x -> x / nullif(nrm, 0.0D)))[0]"
    )


def _norm_duck(col: str) -> str:
    """DuckDB twin of _norm_expr (sqrt/div are IEEE-exact, so the
    normalized components are bit-identical cross-engine; nullif is
    the same zero-norm guard — NULL, never Inf/NaN, on both sides)."""
    return (
        f"list_transform({col}, x -> x / "
        f"nullif(sqrt(list_sum(list_transform({col}, y -> y * y))), "
        f"CAST(0.0 AS DOUBLE)))"
    )


_NORM_E = _norm_expr("emb")
_NORM_E_DUCK = _norm_duck("emb")

# d2 of the normalized query against a centroid (columns e, qe).
_D2_Q = d2_expr("e", "qe")


def _renorm(cents):
    # sqrt/div are IEEE-exact over the ROUND-6 update state, so the
    # renorm preserves cross-engine determinism.
    return cents.select("cid", F.expr(_norm_expr("e")).alias("e"))


# Trained-codebook memo (ADVICE r10): ivf_model trains eagerly
# (cents.collect()) at DataFrame-construction time, and SEVEN
# consumers (q_sim_ivf/_batch, q_sim_ivfeval/_batch, q_sim_ivf_sweep,
# q_sim_ivf_served/_batch) build the identical index per session —
# without the memo each re-runs the full Lloyd lineage. Keyed by the source
# parquet's path + catalog.source_fingerprint + the training constants, NOT
# sf_dir alone (the derived-fixture staleness gotcha: testdata drops
# replace files at the same path). Values are plain Python lists
# (≤ IVF_K · IVF_DIM doubles); a concurrent race just recomputes the
# same deterministic codebook — last-write-wins is harmless.
_CODEBOOK_MEMO: dict[tuple, list] = {}


def _trained_codebook(spark, sf_dir, v):
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    key = (sf_dir, source_fingerprint(src), IVF_K, IVF_ITERS)
    if key not in _CODEBOOK_MEMO:
        cents = v.join(
            F.broadcast(seed_pick(v, "ivf:", IVF_K)), "vec_id"
        ).select("cid", "e")
        for _ in range(IVF_ITERS):
            cents = _renorm(update(assign(v, cents)))
        # Materialize the trained quantizer: ≤ IVF_K = 8 rows by
        # contract (the q_sim_pqadc codebook precedent, BASELINE
        # late-r8 note). Values are collected doubles re-embedded
        # verbatim (IEEE round-trip is exact), so the oracle's in-SQL
        # retraining still hash-matches downstream; plan-build caveat
        # documented in the BASELINE rows.
        _CODEBOOK_MEMO[key] = [
            (int(r["cid"]), list(r["e"])) for r in cents.collect()
        ]
    return _CODEBOOK_MEMO[key]


def ivf_model(spark, sf_dir):
    """(raw, v, cents, assigned): the raw corpus, its normalized
    view, the TRAINED literal codebook, and the final cell
    assignment — shared by q_sim_ivf, q_sim_ivfeval and
    q_sim_ivf_batch so every consumer searches the identical index.

    PRODUCTION READ PATH (100 TB): train once here, ENCODE ONCE by
    materializing `assigned` partitioned by cell, and serve probes as
    partition-pruned reads of that table — operators/ivf_served.py
    (q_sim_ivf_served) is that twin. The recomputed-assignment scan
    below is the train-time / ad-hoc form; its interpreted d2 folds
    are a train-time-only cost once serving reads the materialized
    assignment."""
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    v = raw.select("vec_id", "label", "emb", F.expr(_NORM_E).alias("e"))
    codebook = _trained_codebook(spark, sf_dir, v)
    cents = values_df(spark, codebook, "cid int, e array<double>")
    return raw, v, cents, assign_cells(v, codebook)


def assign_cells(v, codebook):
    """THE cell-assignment projection (shared single implementation —
    the band_projection precedent): (vec_id, label, emb, cell) from a
    normalized view ``v`` and a trained literal ``codebook``.

    Row-local projection over the literal codebook (r10 late fix):
    lloyd.assign's crossJoin+groupBy shape would shuffle the FULL
    vector payload through the vec_id exchange — at 100 TB that is a
    corpus-payload shuffle for a value computable in the scan
    projection. The argmin folds the identical enc encoding
    (element-order d2, 1e-6 quantized, ·10+cid packing) over an
    8-struct literal, so cell ids are bit-identical to the grouped
    form; the plan has ZERO exchanges (plan-gated in
    tests/test_plans.py). Also the ENCODE leg of incremental index
    maintenance (operators/ivf_served.py q_sim_ivf_upsert): a new
    batch is assigned from the PERSISTED codebook with no retrain."""
    cells_lit = F.array(
        *[
            F.struct(
                F.lit(cid).cast("int").alias("cid"),
                F.array(
                    *[
                        # preserve NULL components (the zero-norm
                        # nullif edge a PERSISTED codebook can carry)
                        F.lit(None).cast("double")
                        if x is None
                        else F.lit(float(x))
                        for x in e
                    ]
                ).alias("ce"),
            )
            for cid, e in codebook
        ]
    )

    def _enc_of(c):
        d2 = F.aggregate(
            F.zip_with(F.col("e"), c["ce"], lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return F.round(d2 * 1e6).cast("bigint") * 10 + c["cid"].cast("bigint")

    return v.select(
        "vec_id",
        "label",
        "emb",
        F.pmod(F.array_min(F.transform(cells_lit, _enc_of)), F.lit(10))
        .cast("int")
        .alias("cell"),
    )


def ivf_candidates(spark, sf_dir):
    """IVF probe candidate set (vec_id, label, cos_sim, cell) for the
    query vector — everything q_sim_ivf does except the final
    rank+limit, shared with q_sim_ivfeval so the recall eval measures
    exactly the candidate stream the search ranks."""
    raw, v, cents, assigned = ivf_model(spark, sf_dir)
    qn = v.filter(F.col("vec_id") == QID).select(F.col("e").alias("qe"))
    probe = (
        cents.crossJoin(F.broadcast(qn))
        .select(
            "cid",
            (
                F.round(F.expr(_D2_Q) * 1e6).cast("bigint") * 10 + F.col("cid")
            ).alias("enc"),
        )
        .orderBy(F.col("enc").asc_nulls_last())
        .limit(IVF_NPROBE)
        .select(F.col("cid").cast("int").alias("cell"))
    )
    qraw = raw.filter(F.col("vec_id") == QID).select(F.col("emb").alias("qemb"))
    return (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != QID)
        .crossJoin(F.broadcast(qraw))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("emb"), F.col("qemb")), 6).alias("cos_sim"),
            "cell",
        )
    )


def ivf_duck_train_cte() -> str:
    """The TRAINING half of the IVF choreography as DuckDB CTEs —
    raw, v (normalized), seeds, the unrolled spherical iterations
    (c{n}/cr{n}), and `asn` (vec_id, label, emb, cell: the final
    assignment under cr{IVF_ITERS}). Shared by the single-query tail
    (ivf_duck_cte) and q_sim_ivf_batch's oracle."""
    h = _h60_duck("concat('ivf:', CAST(vec_id AS VARCHAR))")
    # each iteration reads the previous iteration's RE-NORMALIZED
    # centroids (cr{n}), mirroring _renorm(update(assign(...)))
    iters = ",".join(
        duck_iter(n + 1, "seeds" if n == 0 else f"cr{n}", IVF_DIM)
        + f""",
    cr{n + 1} AS (
      SELECT cid, {_norm_duck('e')} AS e FROM c{n + 1}
    )"""
        for n in range(IVF_ITERS)
    )
    fin = IVF_ITERS + 1
    return f"""
    raw AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    v AS (
      SELECT vec_id, label, emb, {_NORM_E_DUCK} AS e FROM raw
    ),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY {h} ASC, vec_id ASC)
               AS INT) AS cid, e
      FROM v
      QUALIFY cid <= {IVF_K}
    ),
    {iters},
    p{fin} AS (
      SELECT v.vec_id, v.label, v.emb,
             CAST(ROUND(list_sum(list_transform(range(1, {IVF_DIM + 1}),
                    i -> (v.e[i] - c.e[i]) * (v.e[i] - c.e[i]))) * 1e6, 0)
                  AS BIGINT) * 10 + c.cid AS enc
      FROM v, cr{IVF_ITERS} c
    ),
    asn AS (
      SELECT vec_id, ANY_VALUE(label) AS label, ANY_VALUE(emb) AS emb,
             CAST(MIN(enc) % 10 AS INT) AS cell
      FROM p{fin} GROUP BY vec_id
    )"""


BATCH_N = 10  # batch qids 0..9 (the q_sim_batch convention)


def batch_cell_ranks(qb, cents):
    """(qid, cell, rnk): EVERY quantizer cell ranked by 1e-6-quantized
    d2 to each batch query — `rnk <= IVF_NPROBE` is by construction
    exactly the production probe of ivf_batch_candidates, and the
    full ranking is the nprobe sweep axis of q_sim_ivf_sweep."""
    from pyspark.sql import Window

    d2q = d2_expr("qe", "ce")
    pd = qb.crossJoin(
        F.broadcast(cents.select("cid", F.col("e").alias("ce")))
    ).select(
        "qid",
        "cid",
        (
            F.round(F.expr(d2q) * 1e6).cast("bigint") * 10 + F.col("cid")
        ).alias("enc"),
    )
    wp = Window.partitionBy("qid").orderBy(F.col("enc").asc_nulls_last())
    return pd.withColumn("rnk", F.row_number().over(wp).cast("int")).select(
        "qid", F.col("cid").cast("int").alias("cell"), "rnk"
    )


def ivf_batch_candidates(spark, sf_dir):
    """IVF probe candidate set (qid, vec_id, cos_sim, cell) for the
    10-query batch — everything q_sim_ivf_batch does except the final
    per-qid rank+limit, shared with q_sim_ivfeval_batch so the
    batched recall eval measures exactly the candidate stream the
    batched search ranks (the ivf_candidates sharing pattern)."""
    raw, v, cents, assigned = ivf_model(spark, sf_dir)
    qb = v.filter(F.col("vec_id") < BATCH_N).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("qe"),
        F.col("emb").alias("qemb"),
    )
    probe = (
        batch_cell_ranks(qb, cents)
        .filter(F.col("rnk") <= IVF_NPROBE)
        .select("qid", "cell")
    )
    return (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(qb.select("qid", "qemb")), "qid")
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("emb"), F.col("qemb")), 6).alias("cos_sim"),
            "cell",
        )
    )


IVF_BATCH_K = 5  # per-qid depth (the q_sim_batch convention)


def ivf_batch_ranked_oracle() -> str:
    """The FULL batched-search oracle (per-qid cosine top-K over the
    probe candidate stream) — the single source shared by
    q_sim_ivf_batch AND its materialized-serving twin
    q_sim_ivf_served_batch (review r11: the served twin promised
    'oracle unchanged' but carried a verbatim copy; a K or tie-break
    edit would have silently diverged them). Registration-free per
    the functions/digest.py discipline."""
    return f"""
    WITH {ivf_batch_duck_cte()},
    ranked AS (
      SELECT qid, vec_id, cos_sim, cell,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY cos_sim DESC NULLS LAST, vec_id ASC NULLS LAST)
               AS INT) AS rank
      FROM cand QUALIFY rank <= {IVF_BATCH_K}
    )
    SELECT qid, rank, vec_id, cos_sim, cell FROM ranked
    ORDER BY qid ASC NULLS LAST, rank ASC NULLS LAST
    """


def ranked_topk_batch(cand):
    """The Spark twin of ivf_batch_ranked_oracle's tail: per-qid
    cosine top-K via row_number (compiles to WindowGroupLimit —
    map-side truncation before the qid exchange), global
    (qid, rank) presentation order. Shared by q_sim_ivf_batch and
    q_sim_ivf_served_batch."""
    from pyspark.sql import Window

    wr = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc_nulls_last(), F.col("vec_id").asc_nulls_last()
    )
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= IVF_BATCH_K)
        .select("qid", "rank", "vec_id", "cos_sim", "cell")
        .orderBy(F.col("qid").asc_nulls_last(), F.col("rank").asc_nulls_last())
    )


def ivf_batch_duck_cte() -> str:
    """Training CTEs + the batch probe, ending in `cand`
    (qid, vec_id, cos_sim, cell) — the SQL twin of
    ivf_batch_candidates, shared by q_sim_ivf_batch's and
    q_sim_ivfeval_batch's oracles. Also exposes `qb`
    (qid, qe, qemb)."""
    return f"""{ivf_duck_train_cte()},
    qb AS (
      SELECT vec_id AS qid, e AS qe, emb AS qemb FROM v
      WHERE vec_id < {BATCH_N}
    ),
    pd AS (
      SELECT qb.qid, c.cid,
             CAST(ROUND(list_sum(list_transform(range(1, {IVF_DIM + 1}),
                    i -> (qb.qe[i] - c.e[i]) * (qb.qe[i] - c.e[i]))) * 1e6, 0)
                  AS BIGINT) * 10 + c.cid AS enc
      FROM cr{IVF_ITERS} c, qb
    ),
    probe AS (
      SELECT qid, CAST(cid AS INT) AS cell FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY enc ASC NULLS LAST) AS rnk
        FROM pd)
      WHERE rnk <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT p.qid, a.vec_id,
             ROUND(list_cosine_similarity(a.emb, qb.qemb), 6) AS cos_sim,
             a.cell
      FROM asn a JOIN probe p ON a.cell = p.cell
                 JOIN qb ON qb.qid = p.qid
      WHERE a.vec_id <> p.qid
    )"""


def ivf_duck_cte() -> str:
    """The full single-query IVF choreography as DuckDB CTEs ending
    in `cand` (vec_id, label, cos_sim, cell) — the SQL twin of
    ivf_candidates, shared by q_sim_ivf's and q_sim_ivfeval's
    oracles."""
    return f"""{ivf_duck_train_cte()},
    qn AS (SELECT e AS qe FROM v WHERE vec_id = {QID}),
    qraw AS (SELECT emb AS qemb FROM raw WHERE vec_id = {QID}),
    probe AS (
      SELECT CAST(cid AS INT) AS cell FROM (
        SELECT c.cid,
               CAST(ROUND(list_sum(list_transform(range(1, {IVF_DIM + 1}),
                      i -> (qn.qe[i] - c.e[i]) * (qn.qe[i] - c.e[i]))) * 1e6, 0)
                    AS BIGINT) * 10 + c.cid AS enc
        FROM cr{IVF_ITERS} c, qn)
      ORDER BY enc ASC NULLS LAST LIMIT {IVF_NPROBE}
    ),
    cand AS (
      SELECT a.vec_id, a.label,
             ROUND(list_cosine_similarity(a.emb, qraw.qemb), 6) AS cos_sim,
             a.cell
      FROM asn a JOIN probe USING (cell), qraw
      WHERE a.vec_id <> {QID}
    )"""

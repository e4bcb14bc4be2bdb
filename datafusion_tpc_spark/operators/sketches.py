"""Mergeable frequency sketches (r5) — beyond-reference LLM-pipeline
layer: corpus-scale heavy hitters without a full-vocabulary shuffle.

The reference's aggregate surface arrives via DataFusion 19
(SURVEY §2.4, Cargo.toml:15); its only sketch family is
approx_distinct/approx_percentile (covered by q_agg_approxd /
q_agg_pctl). This module adds the classic streaming-frequency sketch
the LLM-curation layer needs at 100 TB: Misra-Gries candidate
generation + exact re-count verification — the two-phase shape where
the SKETCH only proposes a bounded candidate set and a cheap exact
pass confirms, so the final answer is deterministic and carries an
EXACT oracle even though the first phase is an approximation.

Guarantee chain (why the candidate set is a superset of the truth):
an item with global count > n/k must have local count > n_p/k on at
least one partition p (otherwise its global count ≤ Σ n_p/k = n/k);
Misra-Gries with k counters retains every item of local count
> n_p/(k+1) ≥ n_p/k's survivors — so every true heavy hitter appears
in some partition's candidate output. The union of per-partition
candidates is ≤ k × partitions rows (bounded, broadcastable)
regardless of corpus size.

100 TB design: phase 1 is one mapInArrow pass with O(k) state per
partition and ≤ k rows emitted per partition — no shuffle, no
vocabulary-sized state (contrast q_text_vocab, which shuffles the
full vocabulary; fine for tokenizer training, wasteful for "which
tokens dominate"). Phase 2 broadcasts the candidate set into a
semi-join filter on the token stream and counts ONLY candidates —
map-side combine on a ≤ k×P key space. The n scalar rides the same
pass via a broadcast one-row aggregate. Threshold compare is integer
(count*k > n) — no float boundary risk.

Testdata quirk: documents.text is a ~31-word synthetic vocabulary
(memory notes), so k=30 counters ≈ vocabulary size and the sketch
barely discards — the correctness surface is the two-phase protocol;
the sketch's memory bound is what matters at real vocabulary sizes.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import cpu_width, load_table, small_table
from datafusion_tpc_spark.functions.digest import _h60_duck, h60
from datafusion_tpc_spark.registry import query

_K = 30  # heavy-hitter order: report tokens with count*K > total


def _mg_partition(batches):
    """Misra-Gries with _K counters over this partition's token stream.

    Emits the surviving (token, residual) counters — residuals are
    candidate-generation artifacts only; the exact phase recounts.
    Arrow-native (r16): pandas ``str.split`` materialized a Python
    list object per document before counting; ``pyarrow.compute``'s
    split_pattern → list_flatten → value_counts stays in native
    buffers end to end. r17 (VERDICT r16 item 3): the counter MERGE is
    Arrow-side too — the r16 form still ``to_pylist()``ed every unique
    batch token into a Python dict, partly refunding the Arrow win on
    wide-vocabulary batches. Now state stays a ≤ _K-row Arrow table:
    per batch, concat + group_by-sum the batch's exact counts into the
    carried counters, and when > _K counters survive, subtract the
    (K+1)-st largest count from all and keep the strictly-positive
    rows (the standard mergeable-summaries MG merge, Agarwal et al.:
    each such event removes ≥ (K+1)·dec of stream mass, so total
    decrement ≤ n_p/(K+1) and every token with local count above that
    still surfaces — the same superset guarantee as the incremental
    min-decrement form, verified by
    test_mg_arrow_sketch_candidates_cover_heavy_hitters). The only
    per-batch Python values are two scalars (row count, decrement)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = pa.schema([("token", pa.string()), ("residual", pa.int64())])
    counters = None  # pa.Table(token, residual), ≤ _K rows between batches
    for rb in batches:
        toks = pc.list_flatten(pc.split_pattern(rb.column("text"), " "))
        vc = toks.value_counts()
        batch_tab = pa.table(
            {
                "token": vc.field("values"),
                "residual": pc.cast(vc.field("counts"), pa.int64()),
            },
            schema=schema,
        )
        if counters is None or counters.num_rows == 0:
            merged = batch_tab
        else:
            agg = (
                pa.concat_tables([counters, batch_tab])
                .group_by("token")
                .aggregate([("residual", "sum")])
            )
            # select by name: aggregate()'s output column order is
            # pyarrow-version-dependent
            merged = pa.table(
                {"token": agg["token"], "residual": agg["residual_sum"]},
                schema=schema,
            )
        if merged.num_rows > _K:
            top = pc.select_k_unstable(
                merged, k=_K + 1, sort_keys=[("residual", "descending")]
            )
            dec = pc.min(pc.take(merged.column("residual"), top)).as_py()
            resid = pc.subtract(merged.column("residual"), dec)
            merged = pa.table(
                {"token": merged.column("token"), "residual": resid},
                schema=schema,
            ).filter(pc.greater(resid, 0))
        counters = merged.combine_chunks()
    if counters is None:
        counters = pa.table({"token": [], "residual": []}, schema=schema)
    yield from counters.to_batches(max_chunksize=max(counters.num_rows, 1))


@query(
    "q_agg_freq",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(COUNT(*) * 1.0 / ANY_VALUE(n), 6) AS share
    FROM tok, tot
    GROUP BY token
    HAVING COUNT(*) * {_K} > ANY_VALUE(n)
    ORDER BY cnt DESC NULLS LAST, token ASC NULLS LAST
    """,
)
def q_agg_freq(spark, sf_dir):
    """Heavy hitters over the document token stream: every token with
    frequency above 1/_K of the corpus, with exact counts and shares.
    Two-phase: bounded Misra-Gries candidates per partition
    (mapInArrow, O(_K) state, zero shuffle), then an exact recount
    restricted to the broadcast candidate set. The oracle is the
    direct full-vocabulary GROUP BY ... HAVING — if the sketch ever
    dropped a true heavy hitter, the hash would mismatch.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    # Size-gated sketch fan-out (r17). The r16 form repartitioned the
    # corpus TEXT unconditionally — required on the single-row-group
    # fixture (parquet cannot split one row group, so the CPU-dense
    # split+count pass would otherwise run in ONE task), but at
    # 100 TB it would ship the whole corpus through an exchange that
    # the module's own design claim ("one mapInArrow pass, no
    # shuffle") forbids: a large corpus is many files/row groups and
    # the scan's natural partitions already parallelize the pass.
    # Under the 1 GiB gate (the prefix_join docs_small family) the
    # fan-out is a byte-light CPU spread (~1.5 MB of text here);
    # past it the sketch consumes the scan directly and phase 1 is
    # genuinely shuffle-free. The MG guarantee holds for ANY
    # partitioning (docstring); candidates stay ≤ _K × partitions;
    # the multi-partition merge path is pinned by
    # test_mg_arrow_sketch_candidates_cover_heavy_hitters with its
    # own repartition(4).
    docs_small = small_table(sf_dir, "documents")
    sketch_in = docs.repartition(cpu_width(spark)) if docs_small else docs
    candidates = (
        sketch_in.mapInArrow(_mg_partition, "token string, residual long")
        .select("token")
        .distinct()
    )
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    # n = corpus token count, computed row-local as Σ size(split(..))
    # instead of explode-then-count: same exact value (split emits
    # one element per oracle unnest row), but the scan never
    # generates the 10M-row token stream a second time (r16;
    # guide §2.3 "don't compute things you throw away").
    # greatest(.., 0) pins the size(NULL) = -1 edge to the explode
    # form's zero-contribution behavior.
    total = docs.agg(
        F.sum(
            F.greatest(F.size(F.split(F.col("text"), " ")), F.lit(0))
        )
        .cast("bigint")
        .alias("n")
    )
    return (
        tok.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .join(F.broadcast(total))
        .filter(F.col("cnt") * _K > F.col("n"))
        .select(
            "token",
            "cnt",
            F.round(F.col("cnt") * 1.0 / F.col("n"), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc_nulls_last(), F.col("token").asc_nulls_last())
    )


@query(
    "q_pipe_bpe",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM words GROUP BY w),
    pairs AS (
      SELECT substring(w, i.i, 2) AS pair, f
      FROM wf, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) i
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
    FROM pairs
    GROUP BY pair
    ORDER BY cnt DESC NULLS LAST, pair ASC NULLS LAST
    LIMIT 20
    """,
)
def q_pipe_bpe(spark, sf_dir):
    """BPE merge-pair counting — the first iteration of byte-pair-
    encoding tokenizer training: count adjacent character pairs
    across the corpus and surface the top merge candidates. The
    100 TB trick is STRUCTURAL, not a sketch: pair counting runs
    over the distinct-WORD frequency table (vocabulary-sized, built
    with one token shuffle), not over the corpus — each word
    contributes its pairs once, weighted by its corpus frequency.
    This is exactly how production BPE trainers scale: corpus size
    affects only the word-count pass; every merge iteration after is
    vocabulary-bound.

    Plan shape: explode(split) → groupBy(word) [the corpus-bound
    shuffle] → posexplode(sequence) + substring pairs [row-local,
    vocabulary-sized, stays in codegen] → groupBy(pair) SUM(f) [tiny]
    → TakeOrdered top-20. Companion to q_text_vocab (unigram top-k)
    and q_pipe_lm (word-bigram scoring); first character-level op.
    Exact oracle: identical pair extraction via generate_series."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            F.expr(
                "explode(transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2)))"
            ).alias("pair"),
            "f",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc_nulls_last(), F.col("pair").asc_nulls_last())
        .limit(20)
    )


# Deterministic weights for the demo classifier: w(c, i) — a Knuth
# multiplicative hash over (class, dim), mapped into [-1, 1). Integer
# arithmetic until the final division, so both engines derive
# bit-identical weights from the same text.
def _weight_expr(c: int) -> str:
    return (
        f"CAST((CAST({c} * 64 + i AS BIGINT) * 2654435761) % 2000 AS DOUBLE)"
        " / 1000.0 - 1.0"
    )


def _score_expr(c: int) -> str:
    """Linear score of class c over the 64-dim embedding — a pure
    fold: zip(vector, generated weights) → sum of products."""
    return (
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>),"
        f" transform(sequence(0, 63), i -> {_weight_expr(c)}),"
        " (x, w) -> x * w), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


@query(
    "q_pipe_classify",
    oracle=f"""
    WITH scored AS (
      SELECT e.vec_id,
             SUM(CAST(e.embedding[i.i + 1] AS DOUBLE)
                 * ({"CAST((CAST(0 * 64 + i.i AS BIGINT) * 2654435761) % 2000 AS DOUBLE) / 1000.0 - 1.0"})) AS s0,
             SUM(CAST(e.embedding[i.i + 1] AS DOUBLE)
                 * ({"CAST((CAST(1 * 64 + i.i AS BIGINT) * 2654435761) % 2000 AS DOUBLE) / 1000.0 - 1.0"})) AS s1,
             SUM(CAST(e.embedding[i.i + 1] AS DOUBLE)
                 * ({"CAST((CAST(2 * 64 + i.i AS BIGINT) * 2654435761) % 2000 AS DOUBLE) / 1000.0 - 1.0"})) AS s2
      FROM embeddings e, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) i
      WHERE len(e.embedding) = 64
      GROUP BY e.vec_id
    )
    SELECT vec_id,
           CAST(CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
                     WHEN s1 >= s2 THEN 1 ELSE 2 END AS INT) AS pred,
           ROUND(CASE WHEN s0 >= s1 AND s0 >= s2 THEN s0
                      WHEN s1 >= s2 THEN s1 ELSE s2 END, 6) AS score
    FROM scored
    ORDER BY vec_id ASC NULLS LAST
    """,
)
def q_pipe_classify(spark, sf_dir):
    """Model inference as pure SQL — the operator-fusion idea from
    the ML-inference-in-SQL literature (PAPERS.md: "Machine Learning
    Inference Pipeline Execution Using Pure SQL", ICDE 2025) applied
    to the LLM-curation use case: a 3-class linear classifier (the
    fastText-style quality/topic gate) scored ENTIRELY inside
    whole-stage codegen — weights generated by a deterministic
    integer-hash formula shared textually with the oracle, dot
    products as zip_with/aggregate folds, argmax as a CASE. No UDF,
    no Python boundary, no model-server round trip: inference is a
    row-local projection that runs at scan speed and fuses with any
    downstream filter (e.g. `WHERE pred = 2` pushes like any other
    predicate).

    Scale: zero shuffle (the ORDER BY is the driver-comparison
    convention); per-row cost is 3×64 fused multiply-adds. The same
    shape carries real exported weights (a literal array column) up
    to the few-MB broadcast limit — past that, a weights table joined
    on feature id. Score drift is float-sum-order only (~1e-13 on
    O(1) scores): six-decimal rounding and argmax margins both dwarf
    it."""
    # dimension guard on BOTH sides: a short/long vector would
    # null-poison Spark's zip_with fold while DuckDB's SUM skips the
    # missing index — filter to the declared dimensionality so
    # fixture drift fails loudly (0 rows) instead of diverging
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    s0, s1, s2 = (F.expr(_score_expr(c)) for c in range(3))
    scored = emb.select("vec_id", s0.alias("s0"), s1.alias("s1"), s2.alias("s2"))
    pred = (
        F.when((F.col("s0") >= F.col("s1")) & (F.col("s0") >= F.col("s2")), 0)
        .when(F.col("s1") >= F.col("s2"), 1)
        .otherwise(2)
        .cast("int")
    )
    best = (
        F.when((F.col("s0") >= F.col("s1")) & (F.col("s0") >= F.col("s2")), F.col("s0"))
        .when(F.col("s1") >= F.col("s2"), F.col("s1"))
        .otherwise(F.col("s2"))
    )
    return scored.select(
        "vec_id", pred.alias("pred"), F.round(best, 6).alias("score")
    ).orderBy(F.col("vec_id").asc_nulls_last())


@query(
    "q_text_zipf",
    oracle="""
    WITH tf AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT token, f,
             ROW_NUMBER() OVER (ORDER BY f DESC, token ASC) AS r
      FROM tf
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(regr_slope(ln(f), ln(r)), 6) AS zipf_slope,
           ROUND(regr_intercept(ln(f), ln(r)), 6) AS zipf_icept,
           ROUND(regr_r2(ln(f), ln(r)), 6) AS fit_r2
    FROM ranked
    """,
)
def q_text_zipf(spark, sf_dir):
    """Zipf-law fit of the corpus: regress log(frequency) on
    log(rank) over the deterministic (freq DESC, token ASC) rank
    order — the one-query corpus-health check (natural text fits a
    slope near −1 with high r²; the synthetic ~31-word fixture is
    deliberately flat, which is itself the diagnostic). Composes two
    r5 surfaces: the vocabulary frequency table and the SQL:2003
    regr_* aggregates, over bit-identical ln() inputs (logs of exact
    integers).

    Scale: one token shuffle for the frequency table; the rank
    window and regression run on the VOCABULARY (thousands of rows
    at any corpus size). The single-partition rank window is bounded
    by vocabulary, not corpus — same justification as q_text_vocab's
    TakeOrdered."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    r = F.row_number().over(
        Window.orderBy(F.col("f").desc(), F.col("token").asc())
    )
    ranked = tf.select("f", r.alias("r"))
    lf, lr = F.log(F.col("f")), F.log(F.col("r"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 6).alias("zipf_icept"),
        F.round(F.regr_r2(lf, lr), 6).alias("fit_r2"),
    )


_KMV_K = 64
_TWO60 = float(1 << 60)


@query(
    "q_agg_kmv",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT
             {_h60_duck("concat('kmv:', CAST(o_custkey AS VARCHAR))")} AS hv
      FROM orders
    ),
    kth AS (
      -- max-of-first-k, NOT OFFSET k-1: mirrors the Spark
      -- limit(k).agg(max) shape so both engines still return one row
      -- (a degraded but IDENTICAL estimate) if a fixture ever has
      -- fewer than k distinct keys (review r5).
      SELECT MAX(hv) AS kth_min
      FROM (SELECT hv FROM h ORDER BY hv ASC LIMIT {_KMV_K})
    ),
    exact AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders
    )
    SELECT n_exact,
           ROUND(({_KMV_K} - 1) * {_TWO60!r} / kth_min, 6) AS kmv_estimate,
           ROUND(ABS(({_KMV_K} - 1) * {_TWO60!r} / kth_min - n_exact)
                 / n_exact, 6) AS rel_error
    FROM exact, kth
    """,
)
def q_agg_kmv(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch with an EXACT
    oracle — the trick that makes an approximate sketch hash-checkable:
    the estimate (k-1)·2^60 / kth_smallest_hash (k=64) is a pure
    function of the deterministic md5/h60 hashes, so both engines
    compute the IDENTICAL estimate (contrast q_agg_approxd, whose HLL
    constants differ per engine and stays rows-only forever).

    100 TB design: the sketch state is the k smallest hashes — each
    partition keeps a bounded top-k heap (TakeOrderedAndProject), and
    heaps merge associatively, the textbook mergeable-summary shape
    (same family as q_agg_freq's Misra-Gries phase). The exact
    distinct rides along here only to report the realized error."""
    orders = load_table(spark, sf_dir, "orders")
    hv = h60(F.concat(F.lit("kmv:"), F.col("o_custkey").cast("string")))
    kth = (
        orders.select(hv.alias("hv"))
        .distinct()
        .orderBy(F.col("hv").asc())
        .limit(_KMV_K)
        .agg(F.max("hv").alias("kth_min"))
    )
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_exact")
    )
    est = (_KMV_K - 1) * F.lit(_TWO60) / F.col("kth_min")
    return exact.crossJoin(F.broadcast(kth)).select(
        "n_exact",
        F.round(est, 6).alias("kmv_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_error"
        ),
    )


@query(
    "q_text_kl",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    lw AS (SELECT lang, w, COUNT(*) AS c FROM tok GROUP BY lang, w),
    lt AS (SELECT lang, SUM(c) AS n FROM lw GROUP BY lang),
    cw AS (SELECT w, SUM(c) AS cq FROM lw GROUP BY w),
    tot AS (SELECT SUM(c) AS nt FROM lw)
    SELECT l.lang,
           CAST(t.n AS BIGINT) AS n_tokens,
           ROUND(SUM((l.c * 1.0 / t.n)
                     * ln((l.c * 1.0 / t.n) / (c.cq * 1.0 / o.nt))), 6) AS kl
    FROM lw l
    JOIN lt t ON l.lang = t.lang
    JOIN cw c ON l.w = c.w
    CROSS JOIN tot o
    GROUP BY l.lang, t.n
    """,
)
def q_text_kl(spark, sf_dir):
    """KL divergence of each language slice's unigram distribution
    from the corpus-wide distribution — the drift/contamination
    diagnostic for mixture monitoring (companion to q_pipe_mixture's
    rebalancer and q_text_zipf's power-law fit). Every per-slice
    vocabulary is a subset of the corpus vocabulary, so q(w) > 0 and
    the divergence is always defined.

    100 TB: ONE corpus-sized explode + (lang, w) aggregation; every
    marginal (per-lang total, per-word total, grand total) derives
    from that vocabulary-sized table via window sums INSIDE the same
    plan — no second scan, no join (review r5: the first cut
    re-aggregated the raw token stream three more times, 4× the
    dominant cost at scale). ln() is transcendental → final sum
    ROUND(…, 6) per repo convention."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    lw = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    enriched = lw.select(
        "lang",
        "c",
        F.sum("c").over(Window.partitionBy("lang")).alias("n"),
        F.sum("c").over(Window.partitionBy("w")).alias("cq"),
        F.sum("c").over(Window.partitionBy()).alias("nt"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    q = F.col("cq") * 1.0 / F.col("nt")
    return (
        enriched.groupBy("lang", "n")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl"))
        .select("lang", F.col("n").cast("bigint").alias("n_tokens"), "kl")
    )


@query("q_text_compress")  # † rows-only: zlib has no DuckDB counterpart
def q_text_compress(spark, sf_dir):
    """Compression-ratio quality signal — the classic repetitive-text
    detector (used alongside the Gopher repetition rules: highly
    compressible text is boilerplate/spam; near-incompressible text
    is noise/binary garbage). ratio = deflate_bytes / raw_bytes per
    document via an Arrow-batched pandas_udf over zlib level 6.

    Rows-only by contract (DuckDB has no compression function), but
    NOT unchecked: tests/test_extensions.py pins the UDF byte-for-
    byte against direct zlib on sampled docs, and the flag thresholds
    are integer-free of float-boundary risk only in the pytest pin
    (the driver check is row-count/schema). 100 TB: one mapPartitions-
    equivalent pass, zero shuffle; zlib level 6 ~100 MB/s/core —
    the only deliberately CPU-bound Python op in the repo, which is
    why it emits bytes counts (reusable) rather than re-deriving per
    downstream filter."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def deflate_len(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        ).astype("int32")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length("text").cast("int").alias("n_bytes"),
        deflate_len(F.col("text")).alias("comp_bytes"),
    ).select(
        "doc_id",
        "n_bytes",
        "comp_bytes",
        # NULLIF guard (degenerate-sweep r11): an empty document has
        # n_bytes = 0 — under ANSI the bare division THROWS.
        F.round(
            F.col("comp_bytes") / F.nullif(F.col("n_bytes"), F.lit(0)), 6
        ).alias("ratio"),
        (F.col("comp_bytes") * 10 < F.col("n_bytes") * 3).alias(
            "flag_repetitive"
        ),
    )


@query(
    "q_text_ttr",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_types,
           ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')), 6) AS ttr,
           (len(list_distinct(string_split(text, ' '))) * 10
            < len(string_split(text, ' ')) * 3) AS flag_low_diversity
    FROM documents
    """,
)
def q_text_ttr(spark, sf_dir):
    """Type-token ratio — the lexical-diversity quality signal
    (low TTR = repetitive/templated text; the array-function twin of
    q_text_compress's zlib detector, and unlike it fully
    SQL-expressible, hence exact-oracled). Entirely row-local JVM
    array functions (split → array_distinct → size): zero shuffle,
    stays in codegen. The flag threshold is an INTEGER cross-multiply
    (types·10 < tokens·3, i.e. TTR < 0.3) — no float boundary.
    100 TB: embarrassingly parallel scan; composes with
    q_pipe_quality_filter's reject-reason framework."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    n_types = F.size(F.array_distinct(toks)).cast("bigint")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        F.round(n_types * 1.0 / n_tokens, 6).alias("ttr"),
        (n_types * 10 < n_tokens * 3).alias("flag_low_diversity"),
    )

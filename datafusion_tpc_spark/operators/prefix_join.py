"""Prefix-filtered exact set-similarity join (round 7) — the
non-quadratic EXACT scale path for n-gram Jaccard near-dup detection
(AllPairs/PPJoin prefix-filtering principle, Bayardo et al. WWW'07;
Chaudhuri et al. SSJoin, ICDE'06).

Relation to the near-dup family in operators/dedup.py:
- q_dedup_ngram is the labeled quadratic exact baseline (candidate =
  any shared shingle; on boilerplate-heavy corpora the hottest shingle
  makes that join quadratic — it is bench-excluded by contract);
- q_dedup_minhash is the approximate scale path (banded LSH);
- q_dedup_prefix (here) is the EXACT scale path: identical output to
  q_dedup_ngram — same oracle SQL — but candidates only form when two
  docs share a shingle inside both docs' rarest-first PREFIX, which
  bounds the inverted index to the rare end of the df distribution.

Prefix-filtering principle: order every doc's shingles by a single
global total order (df ascending, shingle ascending — rarest first).
For Jaccard ≥ t, |A∩B| ≥ ⌈t·|A∪B|⌉ ≥ max(⌈t·|A|⌉, ⌈t·|B|⌉) =: α, and
if two sets intersect in ≥ α elements their length-(|X|−α+1) prefixes
must share an element — so indexing only each doc's first
|X| − ⌈t·|X|⌉ + 1 shingles misses no qualifying pair. For t = 0.5 the
prefix length is floor(n/2)+1 (integer-exact, no float ceil). A
length filter (max(|A|,|B|) ≤ |min|/t, integer form 2·least for
t=0.5) prunes candidates whose sizes alone already cap Jaccard < t.

100 TB design: df is a |vocab|-bounded agg; the prefix self-join's
bucket sizes are df-bounded on the RARE side of the vocabulary
(boilerplate mega-shingles fall outside every prefix unless a doc is
mostly boilerplate, in which case the dedup-cap guard pattern of
dedup.py applies); verification touches candidate pairs only — never
all pairs. Shuffles: shingle-keyed df agg, ONE doc-keyed per-doc agg
(r17 — it yields rank order, counts, prefixes AND verify arrays; the
r16 form paid a ranking window plus two more doc-keyed aggs over the
same stream), shingle-keyed candidate join, pair-keyed verify — all
map-side-combinable or key-bounded.
"""

from __future__ import annotations

import threading

from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import cpu_width, small_table
from datafusion_tpc_spark.functions.shingles import SHINGLES_DUCK, shingle_table
from datafusion_tpc_spark.registry import query

_T = 0.5  # Jaccard threshold — same contract as q_dedup_ngram

# Bound cached-block lifetime across repeated calls (review r8 — the
# ADVICE-r7 leak class): each q_dedup_prefix call caches its per-doc
# sorted-id table because the returned plan uses the subtree 4×
# (both candidate-prefix sides, both set-attach sides); without
# rotation every call in a long-lived session pins another
# corpus-scaled InMemoryRelation until session end. Rotating keeps at
# most ONE call's cache resident; unpersisting under a concurrent
# execution only costs recompute, never correctness (the
# test_concurrent_safety contract).
_SH_CACHE_LOCK = threading.Lock()
_LIVE_SH_CACHES: list = []


def _rotate_sh_cache(df) -> None:
    with _SH_CACHE_LOCK:
        while _LIVE_SH_CACHES:
            try:
                _LIVE_SH_CACHES.pop().unpersist(blocking=False)
            except Exception:  # session already stopped — nothing to free
                pass
        _LIVE_SH_CACHES.append(df)


def drain_sh_caches() -> None:
    """Release the current call's cache too — for eager-count callers
    (q_dedup_eval) whose 'no cached blocks outlive the call' contract
    covers blocks created by the composed q_dedup_prefix call."""
    with _SH_CACHE_LOCK:
        while _LIVE_SH_CACHES:
            try:
                _LIVE_SH_CACHES.pop().unpersist(blocking=False)
            except Exception:
                pass


def _vocab_sids(sh):
    """Two-pass bucketed dictionary rank, assembled as ONE
    declarative plan: (s, df, sid) with sid = global rank of s.

    Pass 1 (_ranked_vocab_local) buckets the vocabulary by a
    DATA-DERIVED, order-consistent key — the 2-char lexicographic
    prefix of s (every string in bucket 'ab' sorts before every
    string in bucket 'ac') — and ranks locally per bucket, the
    corpus-scaled part, fully parallel. Pass 2 turns the per-bucket
    counts into exclusive prefix-sum offsets (one window over
    |buckets| ≤ alphabet² rows — NOT the |vocab|-row single-reducer
    this replaced, VERDICT r7 item 4) and broadcast-joins
    sid = offset + local rank.

    The bucket key is derived from the DATA, not from physical
    partitioning, deliberately: a first cut used repartitionByRange +
    spark_partition_id, and RangePartitioner samples its boundaries
    with an RDD-id-seeded RNG — the pass-1 subtree appears twice in
    this plan (ranks + counts), each physical instantiation drew
    DIFFERENT boundaries, and the offsets no longer matched the
    local ranks (caught by
    tests/test_plans.py::test_r8_two_pass_rank_equals_global_rank
    failing in-suite while passing solo). A data-derived key cannot
    diverge between instantiations, under AQE coalescing, or across
    engines.

    Deliberately NOT materialized (no cache/localCheckpoint): an
    ExistingRDD or unloaded InMemoryRelation reports unknown/huge
    size statistics, which inverted the downstream broadcast
    decisions into SortMergeJoins when tried (measured 1.4 s → 4.4 s
    on q_dedup_prefix). Keeping the lineage declarative costs one
    duplicated vocab subtree (pass 2's counts) and preserves the
    parquet-derived estimates every later join plans against."""
    local = _ranked_vocab_local(sh)
    bucket_off = (
        local.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("off"),
        )
    )
    return local.join(F.broadcast(bucket_off), "bkt").select(
        "s", "df", (F.col("off") + F.col("lrn")).cast("int").alias("sid")
    )  # int like the row_number it replaces — keeps the verify
    # arrays 4-byte


def _ranked_vocab_local(sh):
    """Pass 1 of the two-pass bucketed vocabulary rank: (s, df, bkt,
    lrn) where bkt = substring(s, 1, 2) and lrn is the PER-BUCKET
    rank of s. Prefix buckets are order-consistent (bkt₁ < bkt₂ ⇒
    every s in bkt₁ < every s in bkt₂) and s values are distinct
    (post groupBy), so global_rank(s) = Σ counts of
    lexicographically-earlier buckets + lrn — assembled by
    _vocab_sids' pass 2. The window is partitioned by bkt (parallel,
    hash-distributed across reducers); no single-partition
    corpus-scaled window anywhere (tests/test_plans.py gates this).
    Bucket skew is bounded by the prefix distribution of the shingle
    vocabulary — widen the prefix for more buckets if a corpus needs
    it."""
    return (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("bkt", F.substring("s", 1, 2))
        .withColumn(
            "lrn", F.row_number().over(Window.partitionBy("bkt").orderBy("s"))
        )
    )


@query(
    "q_dedup_prefix",
    oracle=f"""
    WITH sh AS ({SHINGLES_DUCK}),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           ROUND(p.n_common * 1.0 / (ca.n + cb.n - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN counts ca ON ca.doc_id = p.doc_a
    JOIN counts cb ON cb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (ca.n + cb.n - p.n_common) >= {_T}
    """,
)
def q_dedup_prefix(spark, sf_dir):
    """Exact Jaccard ≥ 0.5 near-dup pairs via prefix filtering — the
    same result set as q_dedup_ngram (the oracle IS q_dedup_ngram's
    quadratic formulation), produced without ever joining on common
    shingles: only each doc's floor(n/2)+1 rarest shingles are
    indexed, then candidates are verified exactly."""
    sh = shingle_table(spark, sf_dir)

    # Dictionary-encode shingles to dense int ids, carrying df in the
    # same vocabulary pass. Exact (no hash-collision hazard — an id IS
    # its shingle) and it shrinks every downstream shuffle and the
    # verification arrays from ~20-byte strings to 4-byte ints
    # (profiled 5.9 s → sub-second verify at sf0.1). sid order =
    # shingle order, so (df, sid) is the same rarest-first total order
    # as (df, s).
    #
    # The global rank is the standard TWO-PASS BUCKETED rank
    # (VERDICT r7 item 4 — the previous Window.orderBy("s") with no
    # partitionBy gathered the whole vocabulary into ONE reducer, a
    # real bottleneck at web-scale vocab); see _vocab_sids.
    #
    # The DICTIONARY side broadcasts, size-gated (the graph.py
    # li_small pattern): Catalyst's estimate for the two-pass subtree
    # is corpus-scaled (explode lineage, un-shrunk by the window), so
    # left alone it inverts the build side and broadcasts the CORPUS
    # shingle stream — backwards at any scale — and the inflated
    # output estimate then degrades every downstream attach join to
    # SortMergeJoin (measured 1.4 s → 4.6 s). Past the gate (huge
    # corpora ⇒ huge vocab) the hint drops and the join correctly
    # shuffles both sides on s.
    docs_small = small_table(sf_dir, "documents")
    vocab = _vocab_sids(sh)
    if docs_small:
        vocab = F.broadcast(vocab)
    sh_ids = sh.join(vocab, "s").select("doc_id", "sid", "df")
    # ONE doc-keyed exchange builds everything per-doc (r17, VERDICT
    # r16 item 4 — guide §2.4 "two operations keyed the same way can
    # share one exchange"): the r16 form paid the doc_id shuffle
    # THREE times over the full id stream — a row_number window
    # (rarest-first rank), a groupBy (per-doc count n, joined back),
    # and a second groupBy (the verify set arrays). Collapsing them
    # into a single groupBy that collects (df, sid) structs makes the
    # rarest-first order an ARRAY SORT (per-doc ~|doc| elements,
    # row-local JVM work instead of a corpus-wide sort-based window),
    # the count a size(), and the prefix a slice() — floor(n/2)+1
    # elements, the exact rows the rn <= n DIV 2 + 1 filter kept
    # (sort_array on (df, sid) structs orders by df asc then sid asc,
    # the same total order as the window's orderBy).
    per_doc = sh_ids.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("df", "sid"))).alias("dsid")
    )
    # The cache is the per-doc table (arrays, ~1/|doc| the rows of the
    # r16 exploded-id cache, same payload bytes): its subtree feeds
    # the candidate prefixes (both self-join sides) and both verify
    # set-attach sides. Same rotation contract as before.
    sets = per_doc.select(
        "doc_id",
        F.expr("transform(dsid, x -> x.sid)").alias("ss"),
        F.size("dsid").alias("n"),
        # t=0.5 prefix: n - ceil(n/2) + 1 = floor(n/2) + 1, integer-exact
        F.expr("transform(slice(dsid, 1, size(dsid) DIV 2 + 1), x -> x.sid)").alias(
            "pref"
        ),
    ).cache()
    _rotate_sh_cache(sets)
    ranked = sets.select("doc_id", F.explode("pref").alias("sid"), "n")
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: max(na, nb) <= min/t  (t=0.5 → 2*least)
            & (
                F.greatest(F.col("a.n"), F.col("b.n"))
                <= 2 * F.least(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        # Explicit width, which AQE honors: candidate rows are tiny in
        # BYTES (2 ints) but dense in verification CPU (one hash-set
        # intersection each) — AQE's byte-based coalescing would fold
        # them into ONE task and serialize the verify stage (profiled:
        # 3.8 s single-task → sub-second at 32). Sized by cores.
        # Keyed on the PAIR, not doc_a alone (r8): the candidate
        # stream arrives hash-partitioned on doc_a from the prefix
        # window's exchange, so a doc_a-keyed repartition is provably
        # redundant and Catalyst ELIDES it — leaving the verify width
        # to AQE, which byte-coalesced it back to one task (measured
        # 1.4 s → 4.5 s). hash(doc_a, doc_b) differs from the input
        # partitioning, so this exchange survives, and pairs spread
        # more evenly than doc_a hot keys anyway.
        .repartition(cpu_width(spark), "doc_a", "doc_b")
    )
    # exact verification on candidates only — per-doc id ARRAYS, not a
    # (pair, shingle)-level join: two doc-keyed joins attach the sets,
    # array_intersect computes |A∩B| vectorized in the JVM. The set
    # table is |docs| rows of ~|doc| ints — since r17 it is the SAME
    # cached per-doc table the prefixes sliced from, so no second
    # doc-keyed aggregation of the id stream exists anywhere. Under
    # the size gate the SETS side is hinted broadcast explicitly:
    # left to estimates, Catalyst (r8) picked cand as the build side,
    # which streams the verify compute over the cached few-partition
    # sets table and serializes the CPU-dense intersections the
    # core-width repartition above exists to spread (measured
    # 1.4 s → 4.4 s; same failure family as the AQE byte-coalescing
    # note). Broadcasting sets keeps cand — and its pinned width — as
    # the stream side.
    attach = sets.select("doc_id", "ss", "n")
    if docs_small:
        attach = F.broadcast(attach)
    sets_a = attach.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ss").alias("ss_a"),
        F.col("n").alias("na"),
    )
    sets_b = attach.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ss").alias("ss_b"),
        F.col("n").alias("nb"),
    )
    n_common = F.size(F.array_intersect("ss_a", "ss_b"))
    jac = n_common / (F.col("na") + F.col("nb") - n_common)
    return (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .filter(jac >= _T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )

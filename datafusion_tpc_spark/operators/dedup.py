"""Deduplication operators — north-star extension (SURVEY.md §7/M5;
no reference counterpart: the reference is a pure SQL engine harness).

Dedup strategies over the `documents` fixture, each expressed as
shuffle-bounded DataFrame transforms (no driver-side loops):

- exact          content-hash groupBy (md5)
- ngram          word-3-shingle Jaccard over candidate pairs
- minhash (LSH)  md5-seeded minhash signatures → banded LSH buckets
- simhash        60-bit sign-vote fingerprint
- embedding      pairwise cosine near-duplicates
- substr family  strided-window duplicated-span fraction (r11), the
                 top-span extraction and the span-level train/test
                 decontamination riding the same window stream
- winnow         MOSS winnowing fingerprint sets (r11) — the
                 position-robust partial-overlap granularity between
                 whole-doc minhash and char spans

Determinism: all hashing derives from md5 (h60(x) = first 15 hex chars
of md5 as a 60-bit int), reproducible bit-for-bit in DuckDB via
CAST('0x'||substr(md5(x),1,15) AS BIGINT) — so even MinHash-LSH gets an
EXACT oracle instead of the usual rows-only check.

Scale notes (100 TB):
- exact dedup: one hash-shuffle on the digest; trivially scalable.
- ngram Jaccard is candidate-pair-quadratic in the worst case — viable
  only below ~1M docs; at scale MinHash-LSH replaces it (same output
  contract, probabilistic recall).
- MinHash-LSH: cost = explode(shingles) + one groupBy(doc) + one
  self-join on (band, band_key). Hot band keys (boilerplate docs) skew
  the join — AQE skew-join splitting is on in the session, and the
  band key includes the band index which spreads load 4×. The
  mega-band guard (lsh_candidate_pairs band_cap / the
  q_dedup_minhash_capped variant) drops band keys above a member
  threshold before the self-join, bounding hot-key work at cap²; the
  oracled q_dedup_minhash keeps the guard off so exact-match holds.
- simhash: one mapInPandas pass computes the 60-bit fingerprint
  vectorized per Arrow batch — zero shuffle, no row blowup (the
  declarative token×bit explode alternative multiplies shuffle input
  60× and was replaced in round 2).
- embedding cosine: brute-force O(n²) — the similarity module's LSH
  buckets are the scale path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.functions.literals import values_df
from datafusion_tpc_spark.functions.digest import (  # noqa: F401
    SPLIT_TRAIN_LT,
    SPLIT_VAL_LT,
    _h60_duck,
    cosine,
    h60,
    split_bucket,
    split_bucket_duck,
)
from datafusion_tpc_spark.registry import query

# ---- shared deterministic hashing ------------------------------------

# Shingle expressions + shingle_table moved to functions/shingles.py in
# round 7 (registration-free home so prefix_join can window without
# dragging this module in); re-bound here for existing callers.
from datafusion_tpc_spark.functions.shingles import (  # noqa: E402
    SHINGLES as _SHINGLES,
    SHINGLES_DUCK as _SHINGLES_DUCK,
    shingle_table,
)


# h60/_h60_duck live in functions/digest.py (r5: so chunking/text can
# import them without triggering this module's query registrations);
# re-exported here for the operator modules that already import them.


# ---- 1. exact dedup ---------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: group by content hash, keep the smallest doc_id.
    One shuffle keyed on the digest; at 100 TB the digest groupBy is
    near-perfectly distributed by construction (md5 uniformity)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---- 2. n-gram Jaccard ------------------------------------------------


# Shared by q_dedup_ngram and q_dedup_eval's "exact" leg — review r7:
# the eval first shipped with an inlined copy of this SQL, which
# would silently drift if the ngram contract (shingles, threshold,
# join predicate) ever changed.
_NGRAM_PAIRS_CTE = f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


@query(
    "q_dedup_ngram",
    oracle=_NGRAM_PAIRS_CTE
    + """
    SELECT p.doc_a, p.doc_b,
           ROUND(p.n_common * 1.0 / (ca.n + cb.n - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN counts ca ON ca.doc_id = p.doc_a
    JOIN counts cb ON cb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (ca.n + cb.n - p.n_common) >= 0.5
    """,
)
def q_dedup_ngram(spark, sf_dir):
    """n-gram Jaccard near-dup pairs: candidate pairs share ≥1 shingle
    (inverted-index self-join — never all-pairs), Jaccard from shingle
    counts, threshold 0.5 (planted near-dups sit at ≥0.9, background
    ≤0.1)."""
    sh = shingle_table(spark, sf_dir).cache()
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    jac = F.col("n_common") / (F.col("ca.n") + F.col("cb.n") - F.col("n_common"))
    return (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---- 3. MinHash + LSH ---------------------------------------------------

_K = 8          # minhash functions
_BANDS = 4      # bands of r=2 rows each

_MIN_EXPRS = ", ".join(
    "MIN(" + _h60_duck("concat('%d|', s)" % i) + ") AS m%d" % i for i in range(_K)
)
_BAND_SELECTS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat(m{2 * b}, '_', m{2 * b + 1}) AS bkey FROM sig"
    for b in range(_BANDS)
)

_MINHASH_ORACLE = f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    sig AS (
      SELECT doc_id, {_MIN_EXPRS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_BAND_SELECTS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
    """


def band_projection(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH banding from a (doc_id, text)
    DataFrame — k=8 md5-seeded minhashes, 4 bands × 2 rows. UNCACHED:
    the single construction shared by the batch pipeline (band_table,
    which caches it for the candidate self-join) and the serving
    index / probe computation (operators/lsh_served.py, which must
    not leave session-lifetime cached blocks). One implementation on
    purpose (review r12): the serving index must find exactly the
    candidates the batch pipeline finds, so the hash family / band
    count / bkey format can only change HERE."""
    sh = docs.withColumn("w", F.split("text", " ")).select(
        "doc_id", F.explode(F.array_distinct(F.expr(_SHINGLES))).alias("s")
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(h60(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"m{i}")
            for i in range(_K)
        ]
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            F.col(f"m{2 * b}").cast("string"),
                            F.col(f"m{2 * b + 1}").cast("string"),
                        ).alias("bkey"),
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")


def band_table(docs: DataFrame) -> DataFrame:
    """Cached band_projection — both sides of the batch pipeline's
    candidate self-join read it; uncached, the whole shingle→hash→min
    pipeline would execute twice."""
    return band_projection(docs).cache()


def lsh_candidate_pairs(bands: DataFrame, band_cap: int | None = None) -> DataFrame:
    """Self-join the band table on (band, bkey) → candidate pairs.

    band_cap is the mega-band guard: band keys with more members than
    the cap (boilerplate clusters — license headers, templated pages)
    are DROPPED before the self-join, bounding per-key join work at
    cap² instead of letting one hot key go quadratic in the corpus.
    The sizing pass is a partial-aggregated groupBy on the join key +
    a join back — NOT a window COUNT over the same partitioning: the
    window variant saves one shuffle but must SORT every partition and
    cannot be skew-split (AQE splits skewed JOIN partitions, not
    window partitions — and the skewed key is the exact case this
    guard exists for); measured slower locally too. None disables the
    guard (the oracled q_dedup_minhash keeps it off so its
    exact-match contract holds)."""
    if band_cap is not None:
        sizes = bands.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("n_members")
        )
        # cache the guarded table: BOTH self-join sides read it, and
        # without the cache each side re-runs the sizing aggregation +
        # guard join (measured ~2× the whole query). Same footprint
        # class as the already-cached band table it derives from.
        bands = bands.join(
            sizes.filter(F.col("n_members") <= band_cap).select("band", "bkey"),
            ["band", "bkey"],
        ).cache()
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query("q_dedup_minhash", oracle=_MINHASH_ORACLE)
def q_dedup_minhash(spark, sf_dir):
    """MinHash + LSH candidate pairs, fully deterministic (md5-seeded
    hash family) so the oracle is EXACT — k=8 minhashes, 4 bands × 2
    rows. Pipeline: explode shingles → one groupBy(doc) computing all
    k minhashes → explode band keys → self-join per (band, key).

    Scale: the self-join is keyed on (band, band_key); collisions are
    near-dup clusters, so key cardinality tracks document count. AQE
    skew-join handles hot boilerplate clusters; q_dedup_minhash_capped
    is the variant that drops mega-band keys outright."""
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(band_table(docs), band_cap=None)


# Mega-band cap, shared by the registered query and its oracle string.
# Other caps go through lsh_candidate_pairs(band_cap=...) directly
# (the pytest path).
_BAND_CAP = 1000

_MINHASH_CAPPED_ORACLE = f"""
    WITH sh AS ({_SHINGLES_DUCK}),
    sig AS (
      SELECT doc_id, {_MIN_EXPRS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_BAND_SELECTS}
    ),
    kept AS (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id, band, bkey,
               COUNT(*) OVER (PARTITION BY band, bkey) AS n_members
        FROM bands)
      WHERE n_members <= {_BAND_CAP}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM kept a
    JOIN kept b ON a.band = b.band AND a.bkey = b.bkey
               AND a.doc_id < b.doc_id
    """


@query("q_dedup_minhash_capped", oracle=_MINHASH_CAPPED_ORACLE)
def q_dedup_minhash_capped(spark, sf_dir):
    """q_dedup_minhash with the mega-band guard ON: band keys above
    _BAND_CAP (1000) members are dropped before the self-join. At
    100 TB this is the difference between a bounded cap²-per-key join
    and one boilerplate cluster (a license header shared by 10M docs)
    going quadratic.

    EXACT-oracled since r11 (VERDICT r10 item 4): "approximate by
    contract" never meant nondeterministic — the guard is a
    deterministic integer filter (member count per band key) over the
    same md5-seeded minhash family as the EXACT q_dedup_minhash, so
    the oracle states the identical cap as a COUNT() OVER filter
    before the self-join. Recall-vs-cap semantics stay pytest-checked
    on a skewed fixture (tests/test_extensions.py::
    test_minhash_band_cap_drops_boilerplate)."""
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(band_table(docs), band_cap=_BAND_CAP)


# ---- 4. SimHash ---------------------------------------------------------


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    th AS (SELECT doc_id, {_h60_duck('t')} AS h FROM tok),
    votes AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, LATERAL (SELECT unnest(generate_series(0, 59)) AS i) g
      GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash: 60-bit sign-vote fingerprint over token hashes (token
    multiplicity counted). Near-dup docs land within a few bits of
    Hamming distance; fingerprints verified exactly against DuckDB.

    100 TB shape: ONE mapInPandas pass — each Arrow batch computes its
    documents' fingerprints with a numpy token×bit vote matrix. No
    explode, no shuffle at all (the fingerprint is per-document); the
    earlier declarative token×60-bit explode form multiplied shuffle
    input 60× and is gone. Hash family is the same md5-derived h60 as
    everywhere else, so the exact DuckDB oracle is unchanged."""
    import hashlib

    import numpy as np
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def simhash_batches(batches):
        bits = np.arange(60, dtype=np.int64)
        for pdf in batches:
            # hash each DISTINCT token once per batch: md5 work is then
            # ∝ batch vocabulary (Zipf-bounded), not token occurrences —
            # the dict is dropped per batch so task memory stays bounded
            memo: dict[str, int] = {}

            def h(t: str) -> int:
                v = memo.get(t)
                if v is None:
                    v = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                    memo[t] = v
                return v

            ids, hashes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # match oracle semantics: unnest(string_split(NULL))
                    # emits no rows, so NULL-text docs are omitted
                    continue
                toks = text.split(" ")
                hs = np.fromiter(
                    (h(t) for t in toks), dtype=np.int64, count=len(toks)
                )
                votes = (((hs[:, None] >> bits) & 1) * 2 - 1).sum(axis=0)
                ids.append(doc_id)
                hashes.append(int(((votes > 0).astype(np.int64) << bits).sum()))
            yield pd.DataFrame({"doc_id": ids, "simhash": hashes}).astype(
                {"doc_id": "int64", "simhash": "int64"}
            )

    return d.mapInPandas(simhash_batches, schema="doc_id long, simhash long")


# ---- 5. embedding cosine near-dup ----------------------------------------


# cosine moved to functions/digest.py (r7: registration-free home so
# similarity/retrieval can window without dragging dedup in); re-exported
# via the import above for existing callers.


@query(
    "q_dedup_embed",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
             AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
)
def q_dedup_embed(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.4 — the
    fixture's pair distribution tops out ≈0.51).

    Implementation is blocked matrix multiply: the normalized matrix is
    broadcast (n×64 doubles — KBs to MBs), each partition computes its
    row-block × matrixᵀ with numpy (SIMD) and emits pairs above
    threshold. ~100× faster than per-pair array-lambda evaluation and
    the correct distributed shape: work parallelizes by row-block,
    broadcast replaces the O(n²)-row join. Beyond broadcastable n, the
    sign-LSH buckets in operators/similarity.py bound the candidate
    set first."""
    import os

    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # Guard the driver-side materialization: this is the exact small-n
    # baseline, and its broadcast build side is the WHOLE table — the
    # driver copy grows linearly with data. Fail fast past the
    # threshold instead of OOMing a 100 TB driver silently.
    max_rows = int(os.environ.get("SPARK_GRAFT_EMBED_BROADCAST_MAX", "2000000"))
    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"q_dedup_embed materializes all {n} embeddings on the driver "
            f"(limit {max_rows}; SPARK_GRAFT_EMBED_BROADCAST_MAX to raise). "
            "Use q_dedup_embed_lsh — the bucketed scale path — instead."
        )
    rows = e.collect()  # n×64 doubles — driver-side copy of the broadcast side only
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["emb"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sc = spark.sparkContext
    b_ids, b_mat = sc.broadcast(ids), sc.broadcast(mat)

    def block_pairs(batches):
        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            sub = np.asarray(list(pdf["emb"]), dtype=np.float64)
            sub = sub / np.linalg.norm(sub, axis=1, keepdims=True)
            sims = sub @ all_mat.T  # block GEMM
            out_a, out_b, out_s = [], [], []
            for i, va in enumerate(pdf["vec_id"].to_numpy()):
                mask = (sims[i] >= 0.4) & (all_ids > va)
                for j in np.nonzero(mask)[0]:
                    out_a.append(int(va))
                    out_b.append(int(all_ids[j]))
                    out_s.append(round(float(sims[i, j]), 6))
            yield pd.DataFrame(
                {"vec_a": out_a, "vec_b": out_b, "cos_sim": out_s}
            ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})

    return e.mapInPandas(
        block_pairs, schema="vec_a long, vec_b long, cos_sim double"
    )


@query("q_dedup_embed_lsh")  # † rows-only: approximate (recall tested in pytest)
def q_dedup_embed_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: sign-LSH bucket the vectors
    (one shuffle on the bucket key), compute cosine only within
    buckets. Replaces q_dedup_embed's broadcast-matmul when n outgrows
    a broadcast: per-bucket work is |bucket|², total work divides by
    bucket count — and within each bucket the pairwise scores are one
    numpy GEMM (applyInPandas per bucket), not per-pair expression
    evaluation. Approximate by contract → rows-only + recall test."""
    import numpy as np
    import pandas as pd

    from datafusion_tpc_spark.operators.similarity import _sign_bucket

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # one-row metadata probe → literal bucket weights (similarity.py)
    dim = e.select(F.size("emb")).first()[0]
    b = e.withColumn("bucket", _sign_bucket(F.col("emb"), dim=dim))

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        mat = np.asarray(list(pdf["emb"]), dtype=np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T  # per-bucket GEMM
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= 0.4
        lo = np.minimum(ids[ia[keep]], ids[ib[keep]])
        hi = np.maximum(ids[ia[keep]], ids[ib[keep]])
        return pd.DataFrame(
            {"vec_a": lo, "vec_b": hi, "cos_sim": np.round(sims[ia[keep], ib[keep]], 6)}
        ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})

    return b.groupBy("bucket").applyInPandas(
        bucket_pairs, schema="vec_a long, vec_b long, cos_sim double"
    )


# ---- 6. dedup clusters (connected components) -----------------------------


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SHINGLES_DUCK}),
    sig AS (
      SELECT doc_id, {_MIN_EXPRS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_BAND_SELECTS}
    ),
    edges AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                                AND a.doc_id <> b.doc_id
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    )
    SELECT src AS doc_id,
           CAST(LEAST(src, MIN(dst)) AS BIGINT) AS cluster_id
    FROM reach GROUP BY src
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components over the MinHash-LSH
    candidate graph — the iterative-algorithm slot (label propagation
    to a fixpoint via repeated joins; the oracle states the same
    closure as a recursive CTE). Each doc in the graph maps to the
    smallest doc_id reachable from it (cluster representative).

    Scale: O(eccentricity of the component minimum) join rounds —
    plain neighbor-min propagation moves the minimum one hop per round
    (NOT 2^rounds: there is no pointer doubling here), so the loop runs
    to an observed fixpoint (changed-label count == 0, one cheap job
    per round) instead of a fixed round count that would silently
    truncate chain-shaped duplicate families. Near-dup components are
    near-cliques (2-4 rounds in practice); a hard cap of 50 rounds
    guards against pathological inputs. Driver-side loop only controls
    iteration count — data never leaves executors."""
    pairs = q_dedup_minhash(spark, sf_dir)
    edges = (
        pairs.selectExpr("doc_a AS a", "doc_b AS b")
        .union(pairs.selectExpr("doc_b AS a", "doc_a AS b"))
        .distinct()
        .cache()
    )
    labels = min_label_propagation(edges)
    return labels.select("doc_id", F.col("cluster_id").cast("bigint").alias("cluster_id"))


def min_label_propagation(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Propagate the minimum node id through an undirected edge table
    (columns a, b — both directions present) until no label changes.
    Returns (doc_id, cluster_id). Runs to an observed fixpoint — one
    changed-label count job per round — rather than a fixed round
    count; chain-shaped components longer than any fixed cutoff still
    converge (tests/test_extensions.py::test_clusters_converge_on_chain)."""
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # localCheckpoint per round truncates the LOGICAL PLAN, not just the
    # data: cache() alone leaves each round's plan referencing the
    # previous round's plan twice (via neighbor_min and the left join),
    # doubling the analyzed tree per round — a 10-hop chain overflows a
    # 2 GiB plan string. Checkpointing pins the round result as a leaf,
    # so plan size and per-round shuffle count stay constant.
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("cluster_id").alias("n_min"))
        )
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                "cluster_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("n_min"), F.col("cluster_id"))
                ).alias("new_cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("new_cluster_id") != F.col("cluster_id")).count()
        labels = stepped.select("doc_id", F.col("new_cluster_id").alias("cluster_id"))
        if changed == 0:
            return labels
    raise RuntimeError(
        f"min_label_propagation did not converge in {max_rounds} rounds"
    )


# ---- 7. cluster-keyed train/val/test split ----------------------------


@query(
    "q_pipe_near_split",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SHINGLES_DUCK}),
    sig AS (
      SELECT doc_id, {_MIN_EXPRS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_BAND_SELECTS}
    ),
    edges AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                                AND a.doc_id <> b.doc_id
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    keyed AS (
      SELECT l.doc_id, l.n_chars, l.cluster_id,
             {_h60_duck("r.text")} % 100 AS bucket
      FROM labeled l JOIN documents r ON r.doc_id = l.cluster_id
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM keyed
    GROUP BY 1
    ORDER BY split ASC NULLS LAST
    """,
)
def q_pipe_near_split(spark, sf_dir):
    """NEAR-dup-safe train/val/test split (80/10/10) — the strongest
    of the three split keys (q_pipe_split: doc id; q_pipe_split_content:
    content hash, co-assigns byte-identical copies; this: MinHash-LSH
    CLUSTER representative's content hash, co-assigns near-duplicate
    families too, so a paraphrased eval document cannot leak a variant
    into train). Singleton docs are their own cluster. Reported as
    per-split doc count, cluster count, and char volume; the
    no-pair-straddles-splits property is pytest-pinned against the
    candidate graph itself.

    Scale: clusters come from the bounded LSH component pass
    (q_dedup_clusters — banded self-join, never all-pairs; label
    propagation to observed fixpoint); the split itself adds one
    cluster-keyed representative join + a stateless hash — at 100 TB
    the cluster map is a persisted table maintained incrementally
    (q_dedup_incr), and this query is one join against it."""
    d = load_table(spark, sf_dir, "documents")
    clusters = q_dedup_clusters(spark, sf_dir)
    labeled = (
        d.select("doc_id", "n_chars")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    rep = d.select(F.col("doc_id").alias("cluster_id"), F.col("text").alias("rep_text"))
    keyed = labeled.join(rep, "cluster_id").withColumn(
        "bucket", h60(F.col("rep_text")) % 100
    )
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
    )
    return (
        keyed.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .orderBy(F.col("split").asc_nulls_last())
    )


# ---- 8. LSH quality eval (precision/recall vs exact) -----------------


@query(
    "q_dedup_eval",
    oracle=_NGRAM_PAIRS_CTE
    + f"""
    , exact AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN counts ca ON ca.doc_id = p.doc_a
      JOIN counts cb ON cb.doc_id = p.doc_b
      WHERE p.n_common * 1.0 / (ca.n + cb.n - p.n_common) >= 0.5
    ),
    cand AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) mh),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM exact e JOIN cand c
                ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b) AS tp
    )
    SELECT n_exact, n_cand, tp,
           CASE WHEN n_cand = 0 THEN CAST(NULL AS DOUBLE)
                ELSE ROUND(tp * 1.0 / n_cand, 6) END AS precision,
           CASE WHEN n_exact = 0 THEN CAST(NULL AS DOUBLE)
                ELSE ROUND(tp * 1.0 / n_exact, 6) END AS recall,
           CASE WHEN n_cand + n_exact = 0 THEN CAST(NULL AS DOUBLE)
                ELSE ROUND(2.0 * tp / (n_cand + n_exact), 6) END AS f1
    FROM m
    """,
)
def q_dedup_eval(spark, sf_dir):
    """LSH banding quality eval — the measurement leg of the dedup
    family (the q_sim_ndcg / q_dq_calibration / q_evt_backtest
    pattern): precision, recall, and F1 of the k=8, 4×2-band MinHash
    candidate set against the EXACT Jaccard-≥0.5 pair set, in one
    row of integer counts plus three single-division rounded ratios.
    This is the number that justifies (or re-tunes) the band/row
    split before running the scheme over a corpus.

    The exact side is q_dedup_prefix (VERDICT r7 item 7) — the
    NON-quadratic prefix-filtered exact join, which produces the
    identical pair set to q_dedup_ngram (the oracle keeps the ngram
    CTE formulation: simplest SQL statement of the same set). That
    drops the eval from bench.py's QUADRATIC_BASELINES exclusion —
    it now runs at bench scale on the same plan family the
    production dedup would use.

    Determinism: both pair sets are exact-oracled queries already
    (q_dedup_ngram, q_dedup_minhash — md5-seeded hash family); the
    eval is COUNT aggregates over them, NULL-guarded divisions, ROUND
    6. Both sides are cache()d — each feeds its own count AND the
    intersection join (the band_table precedent) — and the three
    counts are materialized eagerly inside a try/finally so the
    caches are released when the query returns (ADVICE r7: the lazy
    form leaked both cached pair sets for the session's lifetime);
    the returned one-row DataFrame is built from the three BIGINT
    literals with the ratio arithmetic left in Spark."""
    # Lazy import (the _sign_bucket precedent at q_dedup_embed_lsh):
    # dedup is a driver-window module and a top-level import of
    # prefix_join would drag its registration into the window.
    from datafusion_tpc_spark.operators.prefix_join import (
        drain_sh_caches,
        q_dedup_prefix,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = (
        q_dedup_prefix(spark, sf_dir).select("doc_a", "doc_b").cache()
    )
    cand = lsh_candidate_pairs(band_table(docs), band_cap=None).cache()
    try:
        n_exact = exact.count()
        n_cand = cand.count()
        tp = exact.join(cand, ["doc_a", "doc_b"]).count()
    finally:
        exact.unpersist()
        cand.unpersist()
        # the composed q_dedup_prefix call cached its shingle-id
        # table too (review r8) — release it so the docstring's
        # "no cached blocks outlive the call" holds for the whole
        # composition (band_table's cache stays: pre-existing
        # cross-call shared behavior, per the ADVICE-r7 adjudication)
        drain_sh_caches()
    m = values_df(
        spark, [(n_exact, n_cand, tp)], "n_exact bigint, n_cand bigint, tp bigint"
    )
    return m.select(
        "n_exact",
        "n_cand",
        "tp",
        F.when(F.col("n_cand") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("tp") * 1.0 / F.col("n_cand"), 6))
        .alias("precision"),
        F.when(F.col("n_exact") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("tp") * 1.0 / F.col("n_exact"), 6))
        .alias("recall"),
        F.when(F.col("n_cand") + F.col("n_exact") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(2.0 * F.col("tp") / (F.col("n_cand") + F.col("n_exact")), 6))
        .alias("f1"),
    )


# ---- 7. exact substring (duplicated-span) dedup (r11) ---------------------

_SUB_L = 32  # window length (chars — the Lee et al. 50-token analog at
             # the fixture's character scale)
_SUB_S = 16  # stride: windows start every S chars, bounding the hash
             # stream at |corpus chars|/S rows regardless of L

# Strided-window generators shared by the three span queries
# (substr / spans / decontam) — one Spark array expr, one DuckDB
# LATERAL twin producing the identical window set.
_WIN_EXPR = (
    f"CASE WHEN length(text) >= {_SUB_L} THEN "
    f"transform(sequence(1, (length(text) - {_SUB_L}) div {_SUB_S} + 1), "
    f"i -> substring(text, 1 + (i - 1) * {_SUB_S}, {_SUB_L})) "
    f"ELSE array() END"
)
_WINS_DUCK = f"""
      SELECT doc_id,
             substr(text, 1 + (g.i - 1) * {_SUB_S}, {_SUB_L}) AS s
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1,
                      CASE WHEN length(text) >= {_SUB_L}
                           THEN (length(text) - {_SUB_L}) // {_SUB_S} + 1
                           ELSE 0 END))
                    AS i) g
"""
# The CASE mirrors the Spark _WIN_EXPR guard exactly (ADVICE r11):
# the earlier GREATEST((len-L)//S + 1, 0) form diverged on docs of
# length [L-S+1, L-1] = 17-31 chars — DuckDB's // truncates toward
# zero, so (len-32)//16 = 0 there and the oracle emitted ONE
# truncated <L-char window while Spark's length>=L guard emits none.


@query(
    "q_dedup_substr",
    oracle=f"""
    WITH w0 AS ({_WINS_DUCK}),
    wins AS (
      SELECT doc_id, {_h60_duck("s")} AS h FROM w0
    ),
    dup AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(d.h) AS BIGINT) AS n_dup,
           ROUND(COUNT(d.h) * 1.0 / COUNT(*), 6) AS dup_frac
    FROM wins w LEFT JOIN dup d USING (h)
    GROUP BY w.doc_id
    """,
)
def q_dedup_substr(spark, sf_dir):
    """Exact substring (duplicated-span) dedup — the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    primitive the pairwise family (minhash/simhash/ngram) does NOT
    cover: find the fraction of each document made of spans that
    appear VERBATIM in at least one other document (license headers,
    templated boilerplate, quoted passages), independent of overall
    document similarity. Strided fixed-length windows (L=32 chars
    every S=16) are hashed with the h60 family; a window is
    duplicated iff its hash occurs in ≥2 distinct docs. Output per
    doc: window count, duplicated-window count, duplicated fraction
    (the span-level removal signal a training pipeline thresholds).

    Deterministic end-to-end (substr + md5 — identical on both
    engines), so EXACT-oracled; documents shorter than L have no
    windows and are absent from the output on both sides.

    Scale: the stride bounds the hash stream at |corpus chars|/S rows
    of (doc_id, 8-byte hash) — payload text never shuffles, and the
    corpus is scanned exactly ONCE (plan-gated): the distinct-doc
    count per hash is two window passes over a single md5-uniform
    h-exchange (dense_rank then its partition max — the window twin
    of COUNT(DISTINCT), which Spark windows don't support directly)
    instead of the groupBy-then-join-back form whose two consumers
    re-execute the whole scan lineage. The production suffix-array
    approach finds maximal spans; this fixed-L windowing is its
    shuffle-friendly approximation — any duplicated span ≥ L+S−1
    chars is guaranteed to cover ≥1 window, shorter ones may straddle
    (recall, not precision, is traded; precision is exact)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wins = d.select(
        "doc_id", F.explode(F.expr(_WIN_EXPR)).alias("s")
    ).select("doc_id", h60(F.col("s")).alias("h"))
    dr = F.dense_rank().over(Window.partitionBy("h").orderBy("doc_id"))
    nd = F.max(F.col("dr")).over(Window.partitionBy("h"))
    return (
        wins.withColumn("dr", dr)
        .withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.count(F.when(F.col("nd") >= 2, 1))
            .cast("bigint")
            .alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup",
            F.round(F.col("n_dup") * 1.0 / F.col("n_windows"), 6).alias(
                "dup_frac"
            ),
        )
    )


# Positional variant of the strided window generators: same window
# set, carrying the 0-based char offset each window starts at. The
# Spark expr runs behind a length(text) >= L pushed-down filter (no
# CASE needed — empty-array typing of struct arrays is awkward in
# expr text); the Duck twin reuses _WINS_DUCK's guarded series.
_WIN_POS_EXPR = (
    f"transform(sequence(1, (length(text) - {_SUB_L}) div {_SUB_S} + 1), "
    f"i -> struct((i - 1) * {_SUB_S} AS start, "
    f"substring(text, 1 + (i - 1) * {_SUB_S}, {_SUB_L}) AS s))"
)
_WINS_POS_DUCK = f"""
      SELECT doc_id,
             (g.i - 1) * {_SUB_S} AS start,
             substr(text, 1 + (g.i - 1) * {_SUB_S}, {_SUB_L}) AS s
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1,
                      CASE WHEN length(text) >= {_SUB_L}
                           THEN (length(text) - {_SUB_L}) // {_SUB_S} + 1
                           ELSE 0 END))
                    AS i) g
"""


@query(
    "q_dedup_substr_maximal",
    oracle=f"""
    WITH w0 AS ({_WINS_POS_DUCK}),
    wins AS (
      SELECT doc_id, start, {_h60_duck("s")} AS h FROM w0
    ),
    dup_h AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (
      SELECT w.doc_id, w.start FROM wins w JOIN dup_h USING (h)
    ),
    isl AS (
      SELECT doc_id, start,
             SUM(CASE WHEN prev_end IS NULL OR start > prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY start) AS island
      FROM (
        SELECT doc_id, start,
               MAX(start + {_SUB_L}) OVER (
                 PARTITION BY doc_id ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM dup
      )
    ),
    spans AS (
      SELECT doc_id, island,
             MIN(start) AS span_start,
             MAX(start) + {_SUB_L} AS span_end
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_end - span_start) AS BIGINT) AS dup_chars,
           string_agg(CAST(span_start AS VARCHAR) || '-'
                      || CAST(span_end AS VARCHAR),
                      '|' ORDER BY span_start) AS spans
    FROM spans GROUP BY doc_id
    """,
)
def q_dedup_substr_maximal(spark, sf_dir):
    """MAXIMAL duplicated spans per document — the actionable output
    of the Lee et al. 2022 span-dedup pass: where q_dedup_substr
    reports how MUCH of each doc is duplicated and q_dedup_spans
    reports WHAT strings recur, this emits the actual char ranges a
    removal pass would cut — adjacent/overlapping duplicated L=32
    windows merged into maximal [start, end) intervals
    (gaps-and-islands over the window start offsets; two windows at
    starts a < b overlap iff b - a < L, i.e. b <= prev_end - 1).
    Output per doc: span count, duplicated chars, and the spans
    themselves string-joined "start-end|..." (ranges, not text — the
    removal pass slices the source; and no bare array column, per the
    driver-canonicalizer contract).

    Deterministic end-to-end (integer offsets, md5 window hashing,
    string_agg ordered by unique span_start) — EXACT oracle.

    Scale: the same |corpus chars|/S-bounded (doc_id, start, 8-byte
    hash) stream as q_dedup_substr — payload text never shuffles, ONE
    corpus scan (plan-gated): the cross-doc dup flag is the
    dense_rank/partition-max window pair over the md5-uniform
    h-exchange, and the island merge is two windows over ONE
    (doc_id, start) exchange whose per-doc row count is bounded by
    the doc's own window count. The true suffix-array maximal-span
    output needs global suffix order; this is its shuffle-friendly
    stride approximation (boundaries snap to the S=16 grid, spans
    under L+S-1 chars may be missed — recall traded, precision
    exact)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _substr_maximal_from(d)


def _substr_maximal_from(d):
    """q_dedup_substr_maximal over an explicit (doc_id, text)
    DataFrame — split out (the _winnow_fpt_from precedent) so the
    hypothesis fuzz can drive the EXACT production windowing +
    island-merge fold over synthetic degenerate corpora
    (tests/test_property_fuzz.py)."""
    from pyspark.sql import Window

    wins = (
        d.filter(F.length("text") >= _SUB_L)
        .select("doc_id", F.explode(F.expr(_WIN_POS_EXPR)).alias("w"))
        .select("doc_id", F.col("w.start").alias("start"), h60(F.col("w.s")).alias("h"))
    )
    dr = F.dense_rank().over(Window.partitionBy("h").orderBy("doc_id"))
    nd = F.max(F.col("dr")).over(Window.partitionBy("h"))
    dup = (
        wins.withColumn("dr", dr)
        .withColumn("nd", nd)
        .filter(F.col("nd") >= 2)
        .select("doc_id", "start")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max(F.col("start") + _SUB_L).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_isl = F.when(
        prev_end.isNull() | (F.col("start") > prev_end), 1
    ).otherwise(0)
    isl = dup.select(
        "doc_id",
        "start",
        F.sum(new_isl).over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("start").alias("span_start"),
        (F.max("start") + _SUB_L).alias("span_end"),
    )
    span_str = (
        "transform(array_sort(sp), p -> concat("
        "cast(p.span_start as string), '-', cast(p.span_end as string)))"
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start"))
            .cast("bigint")
            .alias("dup_chars"),
            F.collect_list(F.struct("span_start", "span_end")).alias("sp"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_chars",
            F.array_join(F.expr(span_str), "|").alias("spans"),
        )
    )


@query(
    "q_dedup_spans",
    oracle=f"""
    WITH wins AS ({_WINS_DUCK})
    SELECT s AS span,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM wins
    GROUP BY s
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC NULLS LAST, n_occ DESC NULLS LAST,
             span ASC NULLS LAST
    LIMIT 20
    """,
)
def q_dedup_spans(spark, sf_dir):
    """Top duplicated spans — the REMEDIATION leg of q_dedup_substr:
    surface the actual boilerplate strings (license headers, template
    fragments, quoted passages) that account for the duplicated-span
    mass, ranked by how many distinct documents carry them. This is
    the list a curation pipeline turns into removal rules; the
    fraction query says HOW MUCH is duplicated, this one says WHAT.

    Same strided L=32/S=16 windowing as q_dedup_substr, but grouped
    on the span text itself (32-char keys — same shuffle class as the
    60-bit hash, and the output needs the string anyway). Total order
    (n_docs DESC, n_occ DESC, span ASC) is strict because span is the
    group key, so the top-20 set is deterministic — EXACT oracle.

    Scale: one in-row transform+explode bounded at |corpus chars|/S
    rows, one map-side-combinable groupBy on near-uniform 32-char
    keys, then a global top-20 via TakeOrderedAndProject (map-side
    heaps, no full sort, no single-reducer window)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wins = d.select(
        "doc_id", F.explode(F.expr(_WIN_EXPR)).alias("s")
    )
    return (
        wins.groupBy("s")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(F.col("s").alias("span"), "n_docs", "n_occ")
        .orderBy(
            F.col("n_docs").desc_nulls_last(),
            F.col("n_occ").desc_nulls_last(),
            F.col("span").asc_nulls_last(),
        )
        .limit(20)
    )


@query(
    "q_dedup_decontam",
    oracle=f"""
    WITH w0 AS ({_WINS_DUCK}),
    wins AS (
      SELECT doc_id, {_h60_duck("s")} AS h,
             {split_bucket_duck()} AS bucket
      FROM w0
    ),
    train_h AS (SELECT DISTINCT h FROM wins
                WHERE bucket < {SPLIT_TRAIN_LT}),
    test_w AS (SELECT doc_id, h FROM wins
               WHERE bucket >= {SPLIT_VAL_LT})
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(t.h) AS BIGINT) AS n_contam,
           ROUND(COUNT(t.h) * 1.0 / COUNT(*), 6) AS contam_frac
    FROM test_w w LEFT JOIN train_h t USING (h)
    GROUP BY w.doc_id
    """,
)
def q_dedup_decontam(spark, sf_dir):
    """Span-level train/test decontamination — the eval-integrity
    audit an LLM pipeline runs before trusting benchmark numbers
    (the GPT-3/PaLM n-gram-overlap check): for every TEST-split
    document, the fraction of its L=32-char spans that appear
    verbatim anywhere in the TRAIN split. Doc-level exact/near dedup
    (q_dedup_exact/minhash) misses this — a test doc quoting one
    contaminated paragraph still leaks the benchmark.

    Splits are the q_pipe_split convention, read from its single
    source of truth (functions/digest.py split_bucket — hoisted there
    because operators/pipeline.py registers queries and must not be
    cascade-imported); spans are the q_dedup_substr strided windows,
    compared by h60.
    Fully deterministic -> EXACT oracle. Test docs shorter than L
    have no windows and are absent on both sides.

    Scale: payload text never shuffles — only (doc_id, 8-byte hash,
    bucket) rows — and the corpus is scanned exactly ONCE
    (plan-gated): a per-hash boolean window flag (MAX over the
    md5-uniform h-partition of "is a train row") marks test windows
    in the same pass that produced them, instead of materializing the
    distinct-train-hash table and joining back, whose two consumers
    re-execute the whole scan lineage. The bloom-probe variant
    (q_join_bloom precedent) is the cheaper screen when only the
    flag, not the exact fraction, is needed."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wins = d.select(
        "doc_id",
        F.explode(F.expr(_WIN_EXPR)).alias("s"),
        split_bucket().alias("bucket"),
    ).select("doc_id", h60(F.col("s")).alias("h"), "bucket")
    hit = F.max(
        F.when(F.col("bucket") < SPLIT_TRAIN_LT, 1).otherwise(0)
    ).over(Window.partitionBy("h"))
    return (
        wins.withColumn("hit", hit)
        .filter(F.col("bucket") >= SPLIT_VAL_LT)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("hit").cast("bigint").alias("n_contam"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_contam",
            F.round(F.col("n_contam") * 1.0 / F.col("n_windows"), 6).alias(
                "contam_frac"
            ),
        )
    )


# ---- 8. winnowing fingerprints (r11) ----------------------------------

_WNW_K = 5  # shingle width in words (k=3 drowns in the fixture's
            # ~31-word vocabulary: 52% of fingerprints shared by
            # chance vs 9% at k=5 — measured, TESTDATA quirk)
_WNW_W = 4  # winnow window: min-hash selected per W consecutive
            # shingle positions → expected density 2/(W+1)


_WNW_FPT_DUCK = f"""
    tok AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    hsl AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(w) - {_WNW_K - 1}, 1)),
               i -> {_h60_duck("concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])")}
             ) AS hs
      FROM tok
    ),
    fpt AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(hs) - {_WNW_W - 1}, 1)),
               j -> list_min(hs[j:j+{_WNW_W - 1}])))) AS fp
      FROM hsl
    )"""


def _winnow_fpt(spark, sf_dir):
    """The winnowed (doc_id, fp) stream shared by q_dedup_winnow and
    q_dedup_winnow_pairs — entirely row-local folds in the scan
    projection; per-doc fp sets are DISTINCT by construction
    (array_distinct). Window-min is a zip_with fold over W shifted
    slices — O(n·log W) work instead of the definitional O(n·W)
    slice-per-window scan (equivalent values: min over identical
    ints; measured equal-set + ~10% at sf0.1, advantage grows with
    W). Short docs (fewer than W hashes): the shifted slices run
    empty, zip_with null-pads, and least() skips nulls → min of all
    hashes, matching the oracle's clamped list_min(hs[j:j+W-1])."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _winnow_fpt_from(d)


def _winnow_fpt_from(d):
    """_winnow_fpt over an explicit (doc_id, text) DataFrame — split
    out so the hypothesis fuzz can drive the exact production fold
    over synthetic degenerate docs (tests/test_property_fuzz.py)."""
    sh = F.expr(
        f"transform(sequence(1, greatest(size(w) - {_WNW_K - 1}, 1)),"
        " i -> concat_ws(' ', get(w, i-1), get(w, i), get(w, i+1),"
        " get(w, i+2), get(w, i+3)))"
    )
    nw = f"greatest(size(hs) - {_WNW_W - 1}, 1)"
    fps = F.array_distinct(
        F.expr(
            f"zip_with(zip_with(slice(hs, 1, {nw}), slice(hs, 2, {nw}),"
            " (x, y) -> least(x, y)),"
            f" zip_with(slice(hs, 3, {nw}), slice(hs, 4, {nw}),"
            " (x, y) -> least(x, y)),"
            " (x, y) -> least(x, y))"
        )
    )
    return (
        d.withColumn("w", F.split("text", " "))
        .withColumn("hs", F.transform(sh, h60))
        .select("doc_id", F.explode(fps).alias("fp"))
    )


@query(
    "q_dedup_winnow",
    oracle=f"""
    WITH {_WNW_FPT_DUCK},
    dup AS (
      SELECT fp FROM fpt GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(COUNT(d.fp) AS BIGINT) AS n_shared,
           ROUND(COUNT(d.fp) * 1.0 / COUNT(*), 6) AS share_frac
    FROM fpt f LEFT JOIN dup d USING (fp)
    GROUP BY f.doc_id
    """,
)
def q_dedup_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): per doc, the SET of local
    min-hashes — one selected from every window of W=4 consecutive
    k=5-word shingle hashes. Unlike
    q_text_fingerprint's single whole-doc min-hash (detects
    whole-document similarity only), the winnowed set is
    position-robust with a GUARANTEE: any shared word run of at
    least W+k−1 = 8 words produces at least one shared fingerprint,
    at a bounded fingerprint density of ~2/(W+1) per shingle. Output
    per doc: fingerprint count, fingerprints shared with ≥1 other
    doc, shared fraction — the partial-overlap signal between the
    whole-doc (fingerprint/minhash) and char-span (q_dedup_substr)
    granularities.

    Selection records fingerprint VALUES (position-free, the MOSS
    usage), so window ties need no rightmost rule and the set is
    deterministic — EXACT oracle; k=5 because the fixture's tiny
    vocabulary makes 3-word shingles collide by chance (52% → 9%
    measured shared rate, see _WNW_K note).

    Scale: shingling, hashing, winnowing, and dedup of the selected
    set are ALL row-local array folds inside the scan projection
    (the q_text_fingerprint zero-shuffle shape) — only the winnowed
    (doc_id, 8-byte fp) pairs (~0.4/shingle) ever shuffle, and the
    corpus is scanned exactly ONCE (plan-gated): per-doc fp sets are
    already distinct, so a plain COUNT window over the md5-uniform
    fp-exchange gives the sharing-doc count without the
    groupBy-then-join-back whose two consumers re-execute the scan
    lineage; payload text never moves."""
    from pyspark.sql import Window

    fpt = _winnow_fpt(spark, sf_dir)
    # (doc_id, fp) is distinct per doc (array_distinct in the shared
    # _winnow_fpt_from fold), so the partition row count IS the
    # distinct-doc count for the fp.
    nd = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    return (
        fpt.select("doc_id", nd.alias("nd"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.count(F.when(F.col("nd") >= 2, 1))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_fp",
            "n_shared",
            F.round(F.col("n_shared") * 1.0 / F.col("n_fp"), 6).alias(
                "share_frac"
            ),
        )
    )


_WNW_CAP = 64  # fp frequency cap: fingerprints carried by more docs
               # are boilerplate, dropped before pairing (the MOSS
               # "ignore very common fingerprints" practice; bounds
               # in-row pair expansion at CAP² — the LSH band_cap
               # precedent)


@query(
    "q_dedup_winnow_pairs",
    oracle=f"""
    WITH {_WNW_FPT_DUCK},
    keep AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS nd
        FROM fpt
      ) WHERE nd BETWEEN 2 AND {_WNW_CAP}
    ),
    pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM keep x JOIN keep y
        ON x.fp = y.fp AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM pairs
    GROUP BY doc_a, doc_b
    ORDER BY n_shared DESC NULLS LAST, doc_a ASC NULLS LAST,
             doc_b ASC NULLS LAST
    LIMIT 20
    """,
)
def q_dedup_winnow_pairs(spark, sf_dir):
    """The MOSS matcher: top candidate pairs ranked by shared winnowed
    fingerprints — the CONTAINMENT-sensitive pair detector the
    Jaccard-based legs (minhash/ngram/prefix) structurally miss: a
    short document quoted inside a long one shares most of its
    fingerprints (high match) while its Jaccard similarity stays far
    below any dedup threshold. Fingerprints carried by more than
    _WNW_CAP docs are boilerplate and dropped before pairing (the
    published MOSS practice, and the repo's LSH band_cap precedent).
    Deterministic: strict total order (n_shared, doc_a, doc_b) on
    unique pairs — EXACT oracle (the oracle self-joins; the Spark
    side expands pairs in-row, same values).

    Scale: ONE corpus scan (plan-gated). The frequency filter is the
    same COUNT window as q_dedup_winnow; surviving fps group their
    ≤CAP-doc sorted lists on the SAME fp partitioning (exchange
    reused), pairs expand IN-ROW via an indexed-transform over the
    list (the q_graph_triangles wedge-basket idiom — no self-join, no
    second lineage instantiation), bounded at CAP²/2 per fp, and the
    global top-20 is TakeOrderedAndProject. Payload text never
    shuffles."""
    from pyspark.sql import Window

    fpt = _winnow_fpt(spark, sf_dir)
    nd = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    keep = fpt.select("doc_id", "fp", nd.alias("nd")).filter(
        (F.col("nd") >= 2) & (F.col("nd") <= _WNW_CAP)
    )
    baskets = keep.groupBy("fp").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .orderBy(
            F.col("n_shared").desc_nulls_last(),
            F.col("doc_a").asc_nulls_last(),
            F.col("doc_b").asc_nulls_last(),
        )
        .limit(20)
    )


@query(
    "q_dedup_winnow_contain",
    oracle=f"""
    WITH {_WNW_FPT_DUCK},
    nfp AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
      FROM fpt GROUP BY doc_id
    ),
    keep AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS nd
        FROM fpt
      ) WHERE nd BETWEEN 2 AND {_WNW_CAP}
    ),
    agg AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM keep x JOIN keep y
        ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT a.doc_a, a.doc_b, a.n_shared,
           LEAST(fa.n_fp, fb.n_fp) AS n_fp_min,
           ROUND(a.n_shared * 1.0 / LEAST(fa.n_fp, fb.n_fp), 6)
             AS containment
    FROM agg a
    JOIN nfp fa ON fa.doc_id = a.doc_a
    JOIN nfp fb ON fb.doc_id = a.doc_b
    ORDER BY containment DESC NULLS LAST, n_shared DESC NULLS LAST,
             doc_a ASC NULLS LAST, doc_b ASC NULLS LAST
    LIMIT 20
    """,
)
def q_dedup_winnow_contain(spark, sf_dir):
    """The MOSS matcher's REPORTED score (VERDICT r11 item 4):
    candidate pairs ranked by CONTAINMENT — shared winnowed
    fingerprints over the SMALLER document's full fingerprint-set
    size — instead of q_dedup_winnow_pairs's raw shared count, which
    structurally favors long documents. Containment is what makes
    the quoted-inside case rank: a short doc fully embedded in a long
    one scores ~1.0 here while its raw shared count (and its Jaccard)
    stays unremarkable. Denominators are the FULL per-doc set sizes
    (the MOSS practice: the >cap boilerplate filter trims the MATCH
    stream, not the per-doc fingerprint totals).

    Deterministic: strict total order (rounded containment DESC,
    n_shared DESC, doc_a, doc_b — pairs are unique) — EXACT oracle
    (the oracle self-joins + joins the totals back; the Spark side
    computes both windows and the in-row expansion on one stream,
    same values).

    Scale: still ONE corpus scan (plan-gated). The per-doc total is
    one more COUNT window — a doc_id-partition exchange ahead of the
    fp-partition exchange — and the totals ride the winnowed stream
    into the baskets as struct fields, so no join back onto a second
    lineage. Pair expansion stays in-row (≤CAP²/2 per fp), per-pair
    denominators come out of the basket structs (MIN aggregates of
    per-side constants), and the global top-20 is
    TakeOrderedAndProject. Payload text never shuffles."""
    from pyspark.sql import Window

    fpt = _winnow_fpt(spark, sf_dir)
    n_fp = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    keep = (
        fpt.select("doc_id", "fp", n_fp.alias("n_fp"))
        .select("doc_id", "fp", "n_fp", nd.alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _WNW_CAP))
    )
    baskets = keep.groupBy("fp").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "n_fp"))
        ).alias("ds")
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)),"
        " y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b,"
        " x.n_fp AS na, y.n_fp AS nb))))"
    )
    return (
        baskets.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.na", "p.nb")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            # na/nb are per-side constants within a pair group; MIN is
            # just a deterministic way to read them out of the agg
            F.min("na").alias("na"),
            F.min("nb").alias("nb"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.least("na", "nb").cast("bigint").alias("n_fp_min"),
            F.round(
                F.col("n_shared") * 1.0 / F.least("na", "nb"), 6
            ).alias("containment"),
        )
        .orderBy(
            F.col("containment").desc_nulls_last(),
            F.col("n_shared").desc_nulls_last(),
            F.col("doc_a").asc_nulls_last(),
            F.col("doc_b").asc_nulls_last(),
        )
        .limit(20)
    )

"""Dedup batch 2 (r6) — INCREMENTAL ingestion dedup: a new document
batch checked against the existing corpus, the continuous-pipeline
shape operators/dedup.py's whole-corpus passes don't cover. The
canonical-text normalization is 3 expressions inlined rather than
imported from dedup.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query

_BATCH_FROM = 400  # doc_id >= 400 plays the newly-ingested batch


@query(
    "q_dedup_incr",
    oracle=f"""
    WITH corpus AS (
      SELECT md5(text) AS h_exact,
             md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))) AS h_canon
      FROM documents WHERE doc_id < {_BATCH_FROM}
    ),
    batch AS (
      SELECT doc_id,
             md5(text) AS h_exact,
             md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))) AS h_canon
      FROM documents WHERE doc_id >= {_BATCH_FROM}
    )
    SELECT b.doc_id,
           CASE
             WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.h_exact = b.h_exact)
               THEN 'dup_exact'
             WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.h_canon = b.h_canon)
               THEN 'dup_canonical'
             ELSE 'kept'
           END AS status
    FROM batch b
    ORDER BY doc_id ASC NULLS LAST
    """,
)
def q_dedup_incr(spark, sf_dir):
    """Incremental dedup at ingestion time: every document in the new
    batch is checked against the EXISTING corpus — first byte-exact
    (md5 of the raw text), then canonical-form (lowercased,
    whitespace-collapsed md5, catching trivial re-encodings) — and
    labeled kept / dup_exact / dup_canonical. This is the shape a
    continuous pipeline actually runs (the whole-corpus passes of
    operators/dedup.py are the bootstrap; this is every day after).

    Plan shape: the corpus side is reduced to its two 16-byte digest
    columns BEFORE any join (the payload never moves — the q_mm_dedup
    rule), and both membership checks are LEFT joins against
    DISTINCT digest sets keyed by the hash, co-partitioned; the batch
    side is small so Catalyst broadcasts IT and streams the corpus
    digests past it. At 100 TB the corpus digest set is a persisted
    index (the derived-partsupp pattern — built once, fingerprint-
    keyed) rather than re-hashed per batch; the join shape is
    unchanged. Near-dup incremental checking plugs in the same way:
    the corpus side becomes the LSH band table (dedup.py), the probe
    the batch's bands.

    Cross-engine: md5 and the regexp normalization are deterministic
    and dialect-identical ('[ ]+' collapse, trim, lower); the CASE
    precedence (exact beats canonical) is stated identically."""
    docs = load_table(spark, sf_dir, "documents")
    h_exact = F.md5("text")
    h_canon = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), " +", " ")))
    corpus = docs.filter(F.col("doc_id") < _BATCH_FROM).select(
        h_exact.alias("h_exact"), h_canon.alias("h_canon")
    )
    exact_set = corpus.select("h_exact").distinct().withColumn(
        "is_exact", F.lit(True)
    )
    canon_set = corpus.select("h_canon").distinct().withColumn(
        "is_canon", F.lit(True)
    )
    batch = docs.filter(F.col("doc_id") >= _BATCH_FROM).select(
        "doc_id", h_exact.alias("h_exact"), h_canon.alias("h_canon")
    )
    return (
        batch.join(exact_set, "h_exact", "left")
        .join(canon_set, "h_canon", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "dup_exact")
            .when(F.col("is_canon"), "dup_canonical")
            .otherwise("kept")
            .alias("status"),
        )
        .orderBy(F.col("doc_id").asc_nulls_last())
    )

"""Curation-pipeline batch 2 (r5-born) — bigram LM scoring, inverted
index, and snapshot diff. Split from operators/pipeline.py in round 6.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query

@query(
    "q_pipe_lm",
    oracle="""
    WITH words AS (
      SELECT doc_id, i AS pos, string_split(text, ' ')[i] AS w
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1,
                    len(string_split(text, ' ')))) AS i) g
      WHERE len(string_split(text, ' ')) >= 2
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM words GROUP BY w
    ),
    bigrams AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM words a JOIN words b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    bi AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_bg
      FROM bigrams GROUP BY w1, w2
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln(CAST(bi.n_bg AS DOUBLE) / uni.n_w)), 6)
             AS avg_logp
    FROM bigrams g
    JOIN bi  ON bi.w1 = g.w1 AND bi.w2 = g.w2
    JOIN uni ON uni.w = g.w1
    GROUP BY g.doc_id
    ORDER BY doc_id NULLS LAST
    """,
)
def q_pipe_lm(spark, sf_dir):
    """Corpus-bigram language-model quality scoring (the CCNet /
    KenLM-filtering shape, with the corpus itself as the LM): build
    unigram and bigram count tables over the whole corpus, then score
    each document by its mean log conditional bigram probability
    avg(ln(count(w1 w2) / count(w1))) — boilerplate scores high
    (its bigrams dominate the corpus), unique junk scores low. In a
    production pipeline the count tables come from a reference corpus
    and the scores feed the keep/drop threshold next to
    q_pipe_quality_filter's heuristics.

    Scale: the bigram count is a COUNT window over the (w1, w2)
    partition of the SAME gram stream (r12 — the tfidf window-df
    rule: every gram row is scored, so there is no early filter to
    justify re-deriving the counts from a second lineage; 3 corpus
    scans → 2, 1.10 → 0.92 s measured same-session, row-identical).
    The unigram table stays a separate explode→groupBy pass — n(w)
    counts every occurrence including doc-final words that never
    appear as w1, so it is NOT derivable from the gram stream — and
    joins co-keyed on w1. Single-word docs are excluded identically
    on both sides (no bigrams exist — the q_pipe_rep guard,
    ADVICE r4). Hot-bigram window partitions carry the same
    stopword-skew caveat as tfidf's term window."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(ws) - 1), i -> struct(ws[i - 1] AS w1, ws[i] AS w2))")
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    uni = (
        d.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    from pyspark.sql import Window

    n_bg = F.count(F.lit(1)).over(Window.partitionBy("w1", "w2"))
    return (
        grams.withColumn("n_bg", n_bg)
        .join(uni, grams.w1 == uni.w)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("n_bg").cast("double") / F.col("n_w"))), 6
            ).alias("avg_logp"),
        )
    )


@query(
    "q_text_index",
    oracle="""
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list_distinct(list(doc_id)))[1:20], '|')
             AS postings
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token
    ORDER BY token ASC NULLS LAST
    """,
)
def q_text_index(spark, sf_dir):
    """Inverted-index build — the retrieval-side companion to TF-IDF/
    BM25 scoring (which RANK documents; this materializes the
    token → posting-list structure retrieval reads): per token, the
    document frequency and the first 20 doc ids of the sorted posting
    list. Postings are string-joined per the repo's no-bare-array
    oracle convention (CLAUDE.md) and CAPPED — at corpus scale full
    posting lists for stopword-class tokens are the classic
    hot-key/giant-row hazard, so production indexes shard or cap
    exactly like this (the doc-frequency column keeps the true
    count).

    Scale: explode → DISTINCT (token, doc_id) → groupBy(token). The
    pre-distinct is the load-bearing step: a direct
    collect_set-after-explode ships EVERY token occurrence to
    |vocabulary| reducers (the stopword hot keys get nearly the whole
    corpus), while distinct dedupes map-side first so the token
    shuffle carries only distinct pairs — measured 2.2× faster at
    sf0.1 and the gap widens with corpus/vocabulary skew. After
    distinct pairs, collect_list ≡ collect_set with per-group state
    bounded by document frequency (capped display keeps the ROW
    small; sharding by (token, doc range) is the production split
    when one token's postings exceed executor memory)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.concat_ws(
                "|", F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20)
            ).alias("postings"),
        )
        .orderBy(F.col("token").asc_nulls_last())
    )


@query(
    "q_pipe_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
    ),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           CAST(length(v1.text) AS BIGINT) AS old_len,
           CAST(length(v2.text) AS BIGINT) AS new_len
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
       OR v1.text IS DISTINCT FROM v2.text
    ORDER BY doc_id ASC NULLS LAST
    """,
)
def q_pipe_diff(spark, sf_dir):
    """Snapshot diff / change data feed: given two dataset versions,
    emit added / removed / changed rows — the audit op every curated-
    corpus release runs (what changed between data v1 and v2?). The
    two versions are deterministic derivations of `documents` (v2
    drops different rows than v1 and rewrites every 5th text), and
    the engine shape is a keyed FULL OUTER join with a null-safe
    payload comparison (IS DISTINCT FROM ↔ negated <=>) — unchanged
    rows are filtered out, which is what keeps the feed small.

    Scale: one co-keyed shuffle (both snapshots partition on doc_id);
    payload comparison by column — production diffs wide rows via a
    content digest per row (functions/digest.py) so the compare is
    one string, not N columns; the feed is |changes|, not |table|."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("id1"), F.col("text").alias("text1")
    )
    v2 = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .select(
            F.col("doc_id").alias("id2"),
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            )
            .otherwise(F.col("text"))
            .alias("text2"),
        )
    )
    change = (
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .otherwise("changed")
    )
    return (
        v1.join(v2, F.col("id1") == F.col("id2"), "full")
        .filter(
            F.col("id1").isNull()
            | F.col("id2").isNull()
            | ~F.col("text1").eqNullSafe(F.col("text2"))
        )
        .select(
            F.coalesce(F.col("id1"), F.col("id2")).alias("doc_id"),
            change.alias("change_type"),
            F.length("text1").cast("bigint").alias("old_len"),
            F.length("text2").cast("bigint").alias("new_len"),
        )
        .orderBy(F.col("doc_id").asc_nulls_last())
    )

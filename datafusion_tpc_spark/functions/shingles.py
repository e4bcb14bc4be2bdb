"""Word-3-shingle helpers shared by the near-dup family (moved from
operators/dedup.py in round 7 so operators/prefix_join.py can use
them without importing dedup; the functions/digest.py precedent).

Arrays are 0-based in Spark / 1-based in DuckDB, out-of-range access
is NULL in both and concat_ws skips NULLs — the expressions line up
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from datafusion_tpc_spark.catalog import load_table

SHINGLES = (
    "transform(sequence(1, greatest(size(w) - 2, 1)),"
    " i -> concat_ws(' ', get(w, i-1), get(w, i), get(w, i+1)))"
)
SHINGLES_DUCK = """
    SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) tok,
         LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 1))) AS i) g
"""


def shingle_table(spark, sf_dir) -> DataFrame:
    """(doc_id, shingle) — distinct word-3-shingles per document."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("w", F.split("text", " "))
        .select("doc_id", F.explode(F.array_distinct(F.expr(SHINGLES))).alias("s"))
    )

"""Array / higher-order lambda function surface (SURVEY §2.8
extension) — split from scalar_functions."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query


@query(
    "q_fn_array",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           array_to_string(list_transform(
             list_slice(list_reverse_sort(embedding), 1, 3),
             x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)
                       AS VARCHAR)), '|') AS top3_milli,
           ROUND(list_dot_product(
             list_transform(embedding, x -> CAST(x AS DOUBLE)),
             list_transform(list_reverse(embedding), x -> CAST(x AS DOUBLE))
           ), 4) AS dot_rev,
           CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
             AS max_pos
    FROM embeddings
    """,
)
def q_fn_array(spark, sf_dir):
    """Array/lambda function surface over a real vector column —
    size, higher-order transform/aggregate (L2 norm), sort+slice
    (top-3, integer-milli-encoded so the string join never hits
    float-formatting dialect differences), zip_with dot product
    against the reversed vector, and array_position on the max.

    All JVM-side higher-order functions — zero Python, zero shuffle,
    scan-speed at any scale; elements cast to double BEFORE the
    arithmetic on both engines so the sequential fold accumulates
    identically (float32 fold order would otherwise diverge in the
    last ulp)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(embedding, 0D,"
                    " (acc, x) -> acc + cast(x as double) * cast(x as double))"
                )
            ),
            6,
        ).alias("l2_norm"),
        F.expr(
            "array_join(transform(slice(sort_array(embedding, false), 1, 3),"
            " x -> cast(cast(round(cast(x as double) * 1000, 0) as bigint)"
            " as string)), '|')"
        ).alias("top3_milli"),
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, reverse(embedding),"
                " (a, b) -> cast(a as double) * cast(b as double)),"
                " 0D, (acc, v) -> acc + v)"
            ),
            4,
        ).alias("dot_rev"),
        F.expr("array_position(embedding, array_max(embedding))").alias("max_pos"),
    )


@query(
    "q_fn_map",
    oracle="""
    SELECT n_nationkey,
           MAP {'nk': n_nationkey, 'rk': n_regionkey}['rk'][1] AS rk_val,
           array_to_string(
             map_keys(MAP {'nk': n_nationkey, 'rk': n_regionkey}), '|') AS ks,
           CAST(cardinality(MAP {'nk': n_nationkey, 'rk': n_regionkey})
                AS INTEGER) AS n_entries
    FROM nation
    """,
)
def q_fn_map(spark, sf_dir):
    """Map-type surface: construction (create_map), lookup
    (element_at), key enumeration (map_keys — string-joined, never a
    bare map/array in oracled output per the driver's hash
    canonicalizer contract), and cardinality. DuckDB unwraps a map
    lookup as a one-element list (m['k'][1]); Spark's element_at is
    scalar — the oracle normalizes there. Row-local expression work,
    zero shuffle."""
    n = load_table(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("nk"), F.col("n_nationkey"), F.lit("rk"), F.col("n_regionkey")
    )
    return n.select(
        "n_nationkey",
        F.element_at(m, "rk").alias("rk_val"),
        F.array_join(F.map_keys(m), "|").alias("ks"),
        F.size(m).alias("n_entries"),
    )

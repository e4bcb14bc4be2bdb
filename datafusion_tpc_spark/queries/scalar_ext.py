"""Scalar-function batch 2 (r5-born) — URL parsing surface. Split
from queries/scalar_functions.py in round 6.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query

@query(
    "q_fn_url",
    oracle="""
    WITH u AS (
      SELECT event_id,
             concat('https://svc-', event_type, '.example.com/u/',
                    CAST(user_id AS VARCHAR), '/p?page=',
                    CAST(event_id % 10 AS VARCHAR), '&ref=home') AS url
      FROM events
    )
    SELECT event_id,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/]+([^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]page=([^&]*)', 1) AS page
    FROM u
    """,
)
def q_fn_url(spark, sf_dir):
    """URL parsing — the log-analytics staple the reference's logs
    table implies but DF 19 has no function for: Spark-native
    parse_url(HOST/PATH/QUERY and keyed QUERY lookup) over URLs
    assembled from event columns (integer keys only — double→string
    formatting differs across engines and never enters the URL). The
    oracle states the same extraction as anchored regexes, so the
    hash also pins parse_url's component semantics against a
    dialect-neutral spec.

    Scale: row-local JVM codegen end-to-end, zero shuffle."""
    ev = load_table(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://svc-"),
        F.col("event_type"),
        F.lit(".example.com/u/"),
        F.col("user_id").cast("string"),
        F.lit("/p?page="),
        (F.col("event_id") % 10).cast("string"),
        F.lit("&ref=home"),
    )
    return ev.select(
        "event_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page"),
    )

"""Write-path surface extensions, round 6 — JSON-lines sink round
trip, joining the format matrix's write half (Avro: sinks.py via the
Python DataSource writer; streaming: stream_sink.py / py_sink.py;
layout: operators/layout.py). The reference's own write path is
`todo!()` (reference src/object_store/file.rs:215-228), so every sink
here is beyond-reference surface. Separate module so the pinned
round-6 driver window (first 50 registrations) is untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table, run_dir
from datafusion_tpc_spark.registry import query

_JSON_SINK_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
    ".cache",
    "json_sink",
)
_LIVE_RUNS: set[str] = set()

_CUSTOMER_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey bigint, "
    "c_mktsegment string, c_acctbal double"
)


@query(
    "q_sink_json",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           ROUND(SUM(c_acctbal), 2) AS bal_sum
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment ASC NULLS LAST
    """,
)
def q_sink_json(spark, sf_dir):
    """JSON-lines sink round trip: write `customer` as a directory of
    part-*.json files (one per task — Spark's native distributed JSON
    writer with its job-commit protocol), read it back with an
    EXPLICIT schema (never inference — at 100 TB schema inference is
    a full extra pass and a drift hazard), and aggregate. The oracle
    runs the same aggregate on the source parquet: the round trip
    must be numerically lossless, which pins Spark's JSON double
    serialization (shortest-round-trip decimal form) against its own
    parser and against DuckDB's view of the original data.

    Scale: one writer task per input partition, no driver data path;
    JSON-lines splits by newline so the read side parallelizes per
    block. The aggregate checksum (count + key sum + 2dp balance sum)
    is the standard cheap loss detector a pipeline runs after every
    format hop."""
    docs = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    # The run id is released once the read-back plan is defined, so a
    # long-lived process reclaims its own completed runs; run_dir's
    # age gate still protects the returned lazy read.
    with run_dir(_JSON_SINK_CACHE, _LIVE_RUNS) as path:
        docs.write.mode("overwrite").json(path)
        back = spark.read.schema(_CUSTOMER_SCHEMA).json(path)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .orderBy(F.col("c_mktsegment").asc_nulls_last())
    )

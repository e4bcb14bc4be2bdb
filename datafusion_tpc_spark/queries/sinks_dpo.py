"""Dynamic partition overwrite (round 7) — the write-path capability
that makes partitioned tables incrementally maintainable: overwrite
ONLY the partitions present in the incoming batch, leaving sibling
partitions untouched (Hive/Spark `partitionOverwriteMode=dynamic`;
static mode would truncate the whole table root). The reference's
write path is `todo!()` (reference src/object_store/file.rs:215-228),
so this extends the sinks family (avro sink, JSON round trip,
streaming sink, layout rewrites) with the restatement pattern every
warehouse runs nightly.

Proof shape: orders is written partitioned by o_orderstatus; a
restatement batch containing ONLY status 'F' rows (with a 10%
price adjustment) is then written with mode("overwrite") under
dynamic partition-overwrite; the read-back aggregate must show the
adjusted totals for 'F' and the ORIGINAL totals for every other
status — which is exactly what static overwrite would destroy
(it would leave only the 'F' partition). The oracle computes the
same expectation from the source table.

100 TB: one writer task per partition of the restatement batch, job
commit swaps only the touched directories; untouched partitions cost
zero IO — the property that makes daily restatements O(day), not
O(table).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table, run_dir
from datafusion_tpc_spark.registry import query

_DPO_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
    ".cache",
    "dpo_sink",
)
_LIVE_RUNS: set[str] = set()

_ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
    "o_orderstatus string"
)


@query(
    "q_sink_dpo",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F'
                          THEN o_totalprice * 0.9e0
                          ELSE o_totalprice END), 2) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus ASC NULLS LAST
    """,
)
def q_sink_dpo(spark, sf_dir):
    """Partitioned write + dynamic-partition-overwrite restatement +
    read-back audit (module docstring). The dynamic mode is a
    PER-WRITE DataFrameWriter option, not a session conf flip — the
    first cut save/restored the session-global conf, which races on a
    shared session (review r7: thread A's finally-restore of 'static'
    lands between thread B's set and B's write, so B's overwrite runs
    static and truncates every other partition)."""
    with run_dir(_DPO_CACHE, _LIVE_RUNS) as path:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

        restatement = (
            o.filter(F.col("o_orderstatus") == "F")
            .withColumn("o_totalprice", F.col("o_totalprice") * 0.9)
        )
        (
            restatement.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )

        back = spark.read.schema(_ORDERS_SCHEMA).parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_last())
    )

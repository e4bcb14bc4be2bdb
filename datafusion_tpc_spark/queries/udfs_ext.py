"""UDF-surface batch 2 (r5-born) — the mapInArrow raw-Arrow path.
Split from queries/udfs.py in round 6.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query

@query(
    "q_udf_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_quantity * l_extendedprice, 6) AS gross,
           CAST(octet_length(encode(l_returnflag)) AS INT) AS flag_bytes
    FROM lineitem
    """,
)
def q_udf_arrow(spark, sf_dir):
    """mapInArrow — the fourth Python execution surface (alongside
    pandas_udf, applyInPandas, UDTF) and the CLOSEST analog of the
    reference's create_udf over raw Arrow arrays (reference
    Cargo.toml:15: DF scalar UDFs receive arrow::array::ArrayRef):
    the function receives pyarrow RecordBatches directly — no pandas
    conversion layer at all — and computes with pyarrow.compute
    kernels (C++ vectorized). At 100 TB this is the cheapest Python
    boundary Spark offers: one Arrow IPC hop, zero per-row Python,
    zero pandas materialization."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def gross(batches):
        for batch in batches:
            t = pa.table(
                {
                    "l_orderkey": batch.column(0),
                    "l_linenumber": batch.column(1),
                    # round_mode: pyarrow defaults to half-to-even;
                    # Spark/DuckDB ROUND is half away from zero. The
                    # 2dp×2dp product has ≤4 decimal places today so
                    # 6dp rounding is an identity either way, but a
                    # fixture with >6dp products would diverge at ties
                    # (ADVICE r5) — pin the portable mode explicitly.
                    "gross": pc.round(
                        pc.multiply(batch.column(2), batch.column(3)),
                        6,
                        round_mode="half_towards_infinity",
                    ),
                    "flag_bytes": pc.cast(
                        pc.binary_length(batch.column(4)), pa.int32()
                    ),
                }
            )
            for out in t.to_batches():
                yield out

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    return li.mapInArrow(
        gross,
        "l_orderkey long, l_linenumber int, gross double, flag_bytes int",
    )

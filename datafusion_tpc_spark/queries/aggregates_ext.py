"""Aggregation extensions — MODE, fixed-width histogram, DECIMAL
aggregation (SURVEY.md §2.4 extras + the §1 Decimal128 type row).

q_agg_mode / q_agg_hist moved here from aggregates.py in round 5.

q_agg_decimal is new in round 5 (VERDICT r4 item 2): the reference's
dependency surface includes Arrow Decimal128 (reference Cargo.toml:15,
arrow 34 at Cargo.lock:102 — SURVEY §1 maps it to Spark
DecimalType(38, …)), but no previous query exercised decimal
arithmetic/aggregation with an oracle — TPC-H money columns are read
as doubles everywhere else.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query


@query(
    "q_agg_mode",
    oracle="""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT o_orderstatus,
           MIN(o_orderpriority) FILTER (
             WHERE c = (SELECT MAX(c) FROM counts c2
                        WHERE c2.o_orderstatus = counts.o_orderstatus)
           ) AS mode_priority,
           MAX(c) AS mode_n
    FROM counts
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus NULLS LAST
    """,
)
def q_agg_mode(spark, sf_dir):
    """Deterministic MODE aggregate: the most frequent value per
    group, ties broken to the lexicographically smallest — built-in
    mode() in both engines leaves tie order undefined, so this is the
    reproducible two-level formulation: count per (group, value),
    then min_by over (-count, value). Two shuffles, both with
    map-side combine; the second operates on ≤ |groups|×|values|
    rows."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("o_orderstatus")
        .agg(
            F.expr("min_by(o_orderpriority, struct(-c, o_orderpriority))").alias(
                "mode_priority"
            ),
            F.max("c").alias("mode_n"),
        )
        .orderBy(F.col("o_orderstatus").asc_nulls_last())
    )


@query(
    "q_agg_hist",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 9) AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    ORDER BY bucket NULLS LAST
    """,
)
def q_agg_hist(spark, sf_dir):
    """Fixed-width histogram (10 × 50k buckets over order value, top
    bucket open-ended) — the distribution-profiling pass every data
    audit starts with. Bucket arithmetic is explicit floor/least
    (width_bucket exists in Spark but not DuckDB, and explicit
    integer arithmetic is exactly portable anyway). One map-side-
    combined aggregation; output rows = bucket count."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(9)).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy(F.col("bucket").asc_nulls_last())
    )


def agg_decimal_raw(spark, sf_dir):
    """Raw-DECIMAL form of q_agg_decimal — exercises DecimalType
    arithmetic end-to-end (cast, subtract, multiply, SUM) with EXACT
    unrounded DECIMAL(28,4) output, closing the SURVEY §1 Decimal128
    type row (reference Cargo.toml:15; Arrow 34 Decimal128 at
    Cargo.lock:102).

    Exactness argument (why no ROUND on the sums): source money
    columns carry 2 decimal places, so DECIMAL(18,4) casts are exact
    (no half-way cases at scale 4 can arise from 2dp values);
    price × (1 - discount) is 2dp × 2dp = exactly 4dp, carried at
    scale 8 and truncated back to scale 4 losslessly; decimal SUM is
    exact in both engines, so the final DECIMAL(28,4) values are
    bit-identical — unlike every double-summed query in this repo,
    which needs ROUND(x, 6). The AVG stays a rounded double: decimal
    division semantics (result scale/rounding) genuinely differ
    between Spark (HALF_UP at derived scale) and DuckDB (promotes to
    DOUBLE), so a decimal avg is not portable without re-rounding —
    which would defeat the exactness point.

    This raw form is pytest-only (tests/test_queries_oracle.py pins
    it against DuckDB decimal-to-decimal): the r5 driver run proved
    its VALUES bit-identical at three scale factors, but bare
    DECIMAL-object columns trip the driver's hash canonicalizer
    (CORRECTNESS_r05 hash_match:false with equal values — same hazard
    class as bare array/map columns, see CLAUDE.md conventions). The
    registered q_agg_decimal therefore emits the sums as fixed-scale
    STRINGs, which carry the same information (scale 4 makes the
    string forms identical iff the decimals are).

    Scale: identical to any grouped sum — partial decimal sums are
    fixed 16-byte state, map-side combined; one shuffle of
    |groups| × state."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(1,0)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(price).cast("decimal(28,4)").alias("sum_price"),
            F.sum(price * (one - disc)).cast("decimal(28,4)").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_last())
    )


AGG_DECIMAL_RAW_ORACLE = """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                AS DECIMAL(28,4)) AS sum_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(1,0))
                       - CAST(l_discount AS DECIMAL(18,4))))
                AS DECIMAL(28,4)) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(l_extendedprice), 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag NULLS LAST
    """


@query(
    "q_agg_decimal",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                     AS DECIMAL(28,4)) AS VARCHAR) AS sum_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(1,0))
                            - CAST(l_discount AS DECIMAL(18,4))))
                     AS DECIMAL(28,4)) AS VARCHAR) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(l_extendedprice), 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag NULLS LAST
    """,
)
def q_agg_decimal(spark, sf_dir):
    """Driver-facing DECIMAL aggregation (see agg_decimal_raw for the
    full exactness argument): same exact decimal arithmetic, but the
    two DECIMAL(28,4) sums are emitted as their fixed-scale STRING
    forms — 'd+.dddd' is identical between Spark and DuckDB iff the
    decimals are bit-identical, and strings are safe through the
    driver's hash canonicalizer where bare DECIMAL objects are not
    (CORRECTNESS_r05 adjudication: values equal, representation
    driver-hostile)."""
    raw = agg_decimal_raw(spark, sf_dir)
    return raw.select(
        "l_returnflag",
        F.col("sum_price").cast("string").alias("sum_price"),
        F.col("sum_disc_price").cast("string").alias("sum_disc_price"),
        "n",
        "avg_price",
    )

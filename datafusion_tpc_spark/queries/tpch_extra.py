"""TPC-H shapes beyond queries/tpch.py — Q7 (volume shipping), Q14
(promotion effect), and Q21 (suppliers who kept orders waiting, r5),
the remaining classics whose column sets exist in the driver testdata
(no partsupp / l_shipmode / l_commitdate here, which rules out
Q2/Q12/Q19 et al; Q4/Q21's late predicate is adapted — see their
docstrings). Reference parity target: the reference is a TPC-flavored
engine (src/main.rs:28-29 `tpc-1`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query


@query(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation NULLS LAST, cust_nation NULLS LAST,
             l_year NULLS LAST
    """,
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): bilateral trade volume between a
    nation pair by year — the two-role dimension pattern (nation
    joins twice under different aliases) plus a disjunctive
    cross-side predicate that can only be applied AFTER both
    nation joins.

    Scale: both nation sides broadcast (25 rows); the fact-side
    date filter pushes to the lineitem scan; the supplier join
    broadcasts (100 rows at sf0.01, ~100k at real scale — still well
    under threshold); only orders⋈lineitem shuffles co-keyed. Final
    agg output is |nations|²·|years| — tiny."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy(
            F.col("supp_nation").asc_nulls_last(),
            F.col("cust_nation").asc_nulls_last(),
            F.col("l_year").asc_nulls_last(),
        )
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
                   / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): percentage of one month's revenue
    from promo parts — conditional aggregation as a ratio of sums in a
    single pass (never two scans). Rounded to 4dp: the ratio of two
    large double sums is stable well past that, though the raw sums
    themselves are not (CLAUDE.md rounding conventions).

    Scale: the one-month shipdate filter pushes to the lineitem scan
    and prunes row groups; part is the broadcast side; both CASE sums
    share one aggregation — single shuffle of one scalar state per
    mapper."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )

@query(
    "q_tpch_q21",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_1'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name ASC NULLS LAST
    LIMIT 100
    """,
)
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted to the
    testdata column set: no l_commitdate/l_receiptdate here, so "late"
    is l_shipdate > o_orderdate + 30 days (the q_tpch_q4 convention).
    The hardest decorrelation shape in the suite — a correlated EXISTS
    *and* a correlated NOT EXISTS, both self-joins on lineitem with a
    same-order-different-supplier condition: the supplier was late on
    a multi-supplier order where NO other supplier was late. Spark
    expresses the two subqueries as LEFT SEMI / LEFT ANTI joins with a
    composite condition (orderkey equality + suppkey inequality
    residual) — exactly what Catalyst's RewritePredicateSubquery
    produces for the SQL form (reference reaches this surface via
    ctx.sql, benches/query.rs:43; `tpc-1` data dir src/main.rs:28-29).

    Scale: the late set is built once and reused for both the base
    rows and the anti side (self-anti-join of a filtered derived
    table, NOT a second scan); supplier and nation broadcast; the
    final agg is |suppliers| rows into a top-100 TakeOrdered. By
    size-only estimates the projected lineitem, the late set and
    orders are broadcast too at sf0.01 and sf0.1 (AQE plans no
    broadcast at sf0.001); past the threshold the three legs shuffle
    co-keyed on l_orderkey."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    l1, l2, l3 = late.alias("l1"), li.alias("l2"), late.alias("l3")
    waiters = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        waiters.join(F.broadcast(s), waiters.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc_nulls_last())
        .limit(100)
    )

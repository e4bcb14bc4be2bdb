"""TPC-H classics round 3 (r5) — Q8, Q13, Q15, Q17, Q19, Q22, the
remaining shapes expressible over the driver testdata columns
(no partsupp rules out Q2/Q9/Q11/Q16/Q20; no l_shipmode/l_commitdate
rules out Q12; adaptations per-query below). Reference parity target:
the reference is a TPC-flavored engine (src/main.rs:28-29 `tpc-1`)
whose entire SQL surface arrives via ctx.sql (benches/query.rs:43).

Each query exercises a distinct optimizer/operator shape not covered
by tpch.py/tpch_extra.py: two-role nation dims under a CASE-share agg
(Q8), outer-join-then-histogram double aggregation (Q13), scalar
subquery over a reused aggregated subplan (Q15), correlated scalar
AGGREGATE subquery (Q17 — decorrelates to aggregate + join, a
different rule than Q4's EXISTS), common-equi-key extraction from a
disjunction of conjunctions (Q19), and NOT EXISTS anti join under a
scalar-subquery threshold (Q22).

Exact oracles are pytest-verified (tests/test_queries_oracle.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table, register_tables
from datafusion_tpc_spark.registry import query


@query(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                              AND TIMESTAMP '1996-12-31'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year NULLS LAST
    """,
)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): NATION_1's share of PROMO-part
    revenue sold into the AMERICA region, by year — the seven-table
    join with nation playing two roles (customer side gates through
    region; supplier side labels the share) and a conditional-share
    aggregation on top.

    Scale: p_type and the two-year o_orderdate window push to the part
    and orders scans; nation and region broadcast (25/5 rows at any
    SF); supplier broadcasts under AQE at bench SF and shuffles
    co-keyed beyond; the lineitem⋈part / ⋈orders / ⋈customer legs
    shuffle on their keys once each. Both CASE sums share one
    aggregation state — |years| output rows."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(F.lit(0.0)))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy(F.col("o_year").asc_nulls_last())
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST
    """,
)
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer distribution): histogram of orders-per-
    customer including zero-order customers — the outer-join-with-
    join-side-predicate + double-aggregation shape. The stock query
    filters on o_comment (absent in testdata); the adaptation keeps
    the same ON-clause-predicate semantics with o_orderpriority <>
    '1-URGENT' — the predicate must stay in the JOIN condition, not
    WHERE, or zero-order customers vanish.

    Scale: one shuffle on custkey for the outer join + count (AQE
    coalesces the second agg's tiny input); COUNT(o_orderkey) counts
    matches only (NULL-safe), so no post-join CASE is needed; the
    distribution agg input is |customers| rows collapsing to ~40."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c_orders = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc_nulls_last(), F.col("c_count").desc_nulls_last())
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(l_extendedprice * (1 - l_discount)) AS total_raw
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, ROUND(r.total_raw, 2) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_raw = (SELECT MAX(total_raw) FROM revenue)
    ORDER BY s.s_suppkey NULLS LAST
    """,
)
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): the revenue "view" is aggregated once
    and consumed twice — as the join input and inside the scalar MAX
    subquery. The max comparison runs on the RAW double sum (each
    engine compares its own sums, so cross-engine ulp drift cannot
    flip the winner — supplier revenue gaps dwarf float error) and
    only the displayed value is rounded.

    Scale: one shuffle to build revenue (|suppliers| rows); the MAX is
    a broadcast scalar; the supplier join broadcasts the (tiny)
    winning row set. Spark materializes the agg subplan once per
    consumer — an explicit .persist() would dedupe at true scale, but
    the agg input is already filter-pruned to one quarter."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_raw")
    )
    mx = revenue.agg(F.max("total_raw").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx), F.col("total_raw") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.round("total_raw", 2).alias("total_revenue")
        )
        .orderBy(F.col("s_suppkey").asc_nulls_last())
    )


_Q17_SQL = """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
"""


@query("q_tpch_q17", oracle=_Q17_SQL)
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue), p_container adapted
    away (column absent) to a brand-only filter. The shape under test
    is the correlated scalar AGGREGATE subquery — 0.2×AVG(quantity)
    per part — which Catalyst decorrelates via a different rule than
    Q4's EXISTS (RewriteCorrelatedScalarSubquery: aggregate the inner
    side per correlation key, LEFT OUTER join, filter). Same SQL text
    on both engines; the threshold comparison is deterministic
    cross-engine because AVG of integral quantities is one exact
    double division in both.

    Scale: the per-part AVG aggregates only the brand-filtered
    partkeys after Catalyst pushes the join down (plan check: the
    inner aggregate joins on l_partkey before the filter); one
    shuffle per side on partkey; final agg is a single scalar."""
    register_tables(spark, sf_dir)
    return spark.sql(_Q17_SQL)


@query(
    "q_tpch_q19",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue), p_container/l_shipmode adapted
    to p_size/l_quantity ranges. The optimizer shape: a disjunction of
    conjunctions straddling both join sides — the engine must still
    extract the common p_partkey = l_partkey equi-key (hash join, NOT
    a nested loop) and evaluate the OR as a residual, plus derive the
    per-side implied filters. Catalyst and DF 19 both do this
    (extract_equijoin_predicate — SURVEY §4).

    Scale: hash join on partkey with the disjunction as residual;
    part-side predicate (brand ∈ 3 values) prunes before the
    shuffle. Single scalar out."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    arm = lambda brand, slo, shi, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(slo, shi)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(
            arm("Brand#12", 1, 15, 1, 11)
            | arm("Brand#23", 10, 30, 10, 20)
            | arm("Brand#34", 20, 50, 20, 30)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_Q22_SQL = """
    SELECT CAST(c.c_nationkey AS INTEGER) AS nation,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_nationkey IN (10, 11, 12, 13, 14, 15, 16)
      AND c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2
        WHERE c2.c_acctbal > 0.0
          AND c2.c_nationkey IN (10, 11, 12, 13, 14, 15, 16)
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_nationkey
    ORDER BY nation NULLS LAST
"""


@query("q_tpch_q22", oracle=_Q22_SQL)
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), phone-prefix country
    codes adapted to c_nationkey (no c_phone column) and "no orders"
    adapted to "no URGENT orders" (every testdata customer has
    orders, which would make the stock anti join vacuously empty —
    FIXTURES.md quirks). The composite shape survives intact: an
    uncorrelated scalar AVG threshold + a correlated NOT EXISTS anti
    join + grouped aggregation, all in one query — Catalyst plans the
    threshold as a broadcast scalar and the NOT EXISTS as LEFT ANTI
    with a pushed o_orderpriority filter.

    Scale: the anti join's build side is pre-filtered to urgent
    orders (~1/5); one shuffle on custkey; the IN-list and acctbal
    predicates prune the customer scan."""
    register_tables(spark, sf_dir)
    return spark.sql(_Q22_SQL)

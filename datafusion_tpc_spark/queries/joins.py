"""Joins — SURVEY.md §2.3 (all Tier B: zero joins in-repo; reachable
via ctx.sql → DF 19 HashJoinExec / SortMergeJoinExec / CrossJoinExec /
NestedLoopJoinExec; reference Cargo.toml:15, benches/query.rs:43).

Spark picks physical strategies itself (broadcast / sort-merge /
shuffled-hash); we match *semantics* and steer the physical pick where
scale demands it:

- dimension tables (region/nation/supplier ≤ MBs even at 100 TB fact
  scale) are explicitly broadcast() — the CollectLeft analog — so
  fact-table joins never shuffle the fact side on the dim key;
- fact⋈fact equi-joins (orders⋈lineitem) are left to the planner's
  size-only estimates, where a join of joins counts as the product
  of its sides — so the written order picks the plan. Fact-first
  (q_join_inner) broadcasts the filtered orders and streams
  lineitem; dimension-first (q_tpch_q5) broadcasts all of lineitem
  at every shipped sf. Past the threshold both shuffle on orderkey
  with AQE skew-split;
- non-equi joins are BroadcastNestedLoopJoin — kept to dimension-sized
  inputs by construction, which is the only shape that survives scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table, register_tables
from datafusion_tpc_spark.registry import query


_JOIN_INNER_SQL = """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_mktsegment
"""


@query("q_join_inner", oracle=_JOIN_INNER_SQL)
def q_join_inner(spark, sf_dir):
    """Inner equi-join chain lineitem⋈orders⋈customer + aggregation,
    fact-first so lineitem streams (module docstring); identical SQL
    text runs on both engines."""
    register_tables(spark, sf_dir, "lineitem", "orders", "customer")
    return spark.sql(_JOIN_INNER_SQL)


@query(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(c.c_acctbal), 6) AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_join_broadcast(spark, sf_dir):
    """Broadcast (CollectLeft) equi-join — explicit broadcast() of the
    dimension tables. At 100 TB this is the only sane plan: nation and
    region are KBs; broadcasting avoids shuffling the customer/fact
    side entirely."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 6) AS total
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_left(spark, sf_dir):
    """Left outer join — customers kept with zero orders; COUNT over
    the nullable side counts matches only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 6).alias("total"),
        )
    )


@query(
    "q_join_right",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier s
    RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_right(spark, sf_dir):
    """Right outer join — all nations kept, suppliers counted."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@query(
    "q_join_full",
    oracle="""
    WITH cust_per_nation AS (
      SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
    ),
    supp_per_nation AS (
      SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY s_nationkey
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM cust_per_nation c
    FULL OUTER JOIN supp_per_nation s ON c.nk = s.nk
    """,
)
def q_join_full(spark, sf_dir):
    """Full outer join between two aggregates — rows surviving on
    either side only."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.nk == s.nk, "full")
        .select(
            F.coalesce(c.nk, s.nk).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 40000
    )
    """,
)
def q_join_semi(spark, sf_dir):
    """Left semi join ≡ WHERE EXISTS (DF decorrelate_where_exists ≡
    Catalyst RewritePredicateSubquery — SURVEY §2.9)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 40000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def q_join_anti(spark, sf_dir):
    """Left anti join ≡ NOT EXISTS — customers with no 300k+ order
    (the unfiltered form is empty in this fixture: every customer has
    orders, which would make the oracle check vacuous)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r
    CROSS JOIN nation n
    """,
)
def q_join_cross(spark, sf_dir):
    """Cross join — dimension×dimension only (a cross join with a fact
    table never survives scale; keep cardinality |r|×|n|)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "q_join_theta",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a
    JOIN nation b ON a.n_nationkey < b.n_nationkey
                 AND a.n_regionkey = b.n_regionkey
    """,
)
def q_join_theta(spark, sf_dir):
    """Theta join (non-equi component) — DF 19 NestedLoopJoinExec;
    Spark extracts the equi part (regionkey) for hashing and applies
    the `<` as residual — strictly better than pure nested-loop."""
    a = load_table(spark, sf_dir, "nation").alias("a")
    b = load_table(spark, sf_dir, "nation").alias("b")
    return a.join(
        b,
        (F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        & (F.col("a.n_regionkey") == F.col("b.n_regionkey")),
    ).select(F.col("a.n_name").alias("nation_a"), F.col("b.n_name").alias("nation_b"))


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1999-01-01'
      AND l.l_shipdate  > TIMESTAMP '1999-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC NULLS LAST, l.l_orderkey ASC NULLS LAST
    LIMIT 20
    """,
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): 3-way join, selective
    filters on all three tables (each pushed below its join), agg,
    top-20. Exercises join ordering + pushdown + TakeOrdered in one
    plan."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc_nulls_last(), F.col("l_orderkey").asc_nulls_last())
        .limit(20)
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey  = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name IN ('AMERICA', 'ASIA')
    GROUP BY n.n_name
    """,
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): 6-table join with the
    classic s_nationkey = c_nationkey cycle condition. Dims broadcast
    explicitly; written dimension-first, so by size-only estimates
    orders and all of lineitem are broadcast too at every shipped sf
    and the only shuffle is the final group-by (module docstring)."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "q_join_residual",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_name
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
               AND l.l_quantity > p.p_size
               AND p.p_retailprice < 1200
    """,
)
def q_join_residual(spark, sf_dir):
    """Equi-join + residual non-equi predicate in the join condition —
    hash join on partkey, residual filter applied on matches."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return li.join(
        p,
        (li.l_partkey == p.p_partkey)
        & (li.l_quantity > p.p_size)
        & (p.p_retailprice < 1200),
    ).select("l_orderkey", "l_linenumber", "p_name")


@query(
    "q_join_salted",
    oracle="""
    SELECT s.s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    ORDER BY s.s_nationkey NULLS LAST
    """,
)
def q_join_salted(spark, sf_dir):
    """Manually salted skew-safe join (functions/skew.py:70): the
    fact side takes a uniform salt in [0, 16), the dim side is
    replicated 16x, and the join runs on (key, salt) — one hot
    supplier key's rows spread over 16 tasks instead of one
    straggler. The salt never changes the result (every fact row
    still meets its dim row exactly once), so the oracle is the plain
    unsalted join — the driver hash-checks that the rewrite is
    semantics-preserving.

    The dim here is supplier, NOT orders: replication costs
    |dim| x n_salts, so salting is for hot keys against SMALL dims
    (the docstring contract); a first cut of this query salted the
    orders join and paid 1.5 s at sf0.1 replicating 150k rows 16x —
    the anti-pattern the technique itself warns about. AQE skew-join
    remains the answer for large-dim skew.

    This is the manual escape hatch for skew AQE can't fix (AQE
    splits oversized shuffle partitions, but only after a full
    shuffle of the skewed key; salting spreads the key before the
    shuffle). The equivalence-vs-unsalted property is also pinned in
    tests/test_sources_and_skew.py."""
    from datafusion_tpc_spark.functions.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        salted_join(li, s, "l_suppkey", "s_suppkey", n_salts=16)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy(F.col("s_nationkey").asc_nulls_last())
    )

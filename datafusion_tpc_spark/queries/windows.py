"""Window functions — SURVEY.md §2.5 (all Tier B; DF 19 WindowAggExec/
BoundedWindowAggExec via reference Cargo.toml:15).

Ranking (row_number/rank/dense_rank/percent_rank/cume_dist/ntile),
analytic (lag/lead/first_value/last_value/nth_value), aggregates over
ROWS and RANGE frames — all native in both engines.

Determinism: every ORDER BY inside a window carries a unique-key
tiebreak so frame contents are reproducible across engines (SURVEY §5).

Scale notes: a window partitioned by a key is one shuffle on that key
+ a per-partition sort; partitions must fit an executor's sort buffer
(spills otherwise). A window with NO partition key is a single-task
bottleneck — never used here except implicitly nowhere; all declared
windows partition on real keys.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import load_table, register_tables
from datafusion_tpc_spark.registry import query


_WIN_RANK_SQL = """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(row_number()   OVER w AS BIGINT) AS rn,
           CAST(rank()         OVER w AS BIGINT) AS rnk,
           CAST(dense_rank()   OVER w AS BIGINT) AS drnk,
           ROUND(percent_rank() OVER w, 6)       AS prnk,
           ROUND(cume_dist()    OVER w, 6)       AS cdist,
           CAST(ntile(4)       OVER w AS INT)    AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST)
"""


@query("q_win_rank", oracle=_WIN_RANK_SQL)
def q_win_rank(spark, sf_dir):
    """All six ranking functions over one named window; identical SQL
    text runs on both engines. The DataFrame-API spelling optimizes to
    the same plan but costs ~300 py4j calls per build; this costs ~11."""
    register_tables(spark, sf_dir, "orders")
    return spark.sql(_WIN_RANK_SQL)


@query(
    "q_win_lag",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           lag(l_quantity)      OVER w AS prev_qty,
           lead(l_quantity)     OVER w AS next_qty,
           lag(l_quantity, 2, -1.0) OVER w AS prev2_qty_default,
           first_value(l_quantity) OVER w AS first_qty,
           last_value(l_quantity)  OVER (PARTITION BY l_orderkey
                                         ORDER BY l_linenumber ASC NULLS LAST,
                                                  l_partkey ASC NULLS LAST,
                                                  l_suppkey ASC NULLS LAST,
                                                  l_quantity ASC NULLS LAST,
                                                  l_extendedprice ASC NULLS LAST
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING) AS last_qty,
           nth_value(l_quantity, 2) OVER (PARTITION BY l_orderkey
                                          ORDER BY l_linenumber ASC NULLS LAST,
                                                   l_partkey ASC NULLS LAST,
                                                   l_suppkey ASC NULLS LAST,
                                                   l_quantity ASC NULLS LAST,
                                                   l_extendedprice ASC NULLS LAST
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND UNBOUNDED FOLLOWING) AS second_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber ASC NULLS LAST,
                          l_partkey ASC NULLS LAST,
                          l_suppkey ASC NULLS LAST,
                          l_quantity ASC NULLS LAST,
                          l_extendedprice ASC NULLS LAST)
    """,
)
def q_win_lag(spark, sf_dir):
    """Analytic functions: lag/lead (with offset+default), first/last/
    nth value. last_value and nth_value use explicit unbounded frames:
    Spark evaluates nth_value over the whole partition regardless of
    the default frame while DuckDB honors the growing frame — the
    explicit frame is the only portable form."""
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the fixture — the
    # full tiebreak chain makes frame contents engine-independent.
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").asc_nulls_last(),
        F.col("l_partkey").asc_nulls_last(),
        F.col("l_suppkey").asc_nulls_last(),
        F.col("l_quantity").asc_nulls_last(),
        F.col("l_extendedprice").asc_nulls_last(),
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.lead("l_quantity").over(w).alias("next_qty"),
        F.lag("l_quantity", 2, -1.0).over(w).alias("prev2_qty_default"),
        F.first("l_quantity").over(w).alias("first_qty"),
        F.last("l_quantity").over(w_full).alias("last_qty"),
        F.nth_value("l_quantity", 2).over(w_full).alias("second_qty"),
    )


@query(
    "q_win_movavg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate ASC NULLS LAST,
                                                  o_orderkey ASC NULLS LAST
                                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
             AS moving_avg,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate ASC NULLS LAST,
                                                  o_orderkey ASC NULLS LAST
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS running_total
    FROM orders
    """,
)
def q_win_movavg(spark, sf_dir):
    """Aggregate-over-window with ROWS frames: 4-row moving average +
    running total (SURVEY §2.5 q_win_movavg)."""
    o = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey").asc_nulls_last()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(base.rowsBetween(-3, 0)), 6).alias("moving_avg"),
        F.round(
            F.sum("o_totalprice").over(base.rowsBetween(Window.unboundedPreceding, 0)), 6
        ).alias("running_total"),
    )


@query(
    "q_win_range",
    oracle="""
    SELECT p_partkey, p_size, p_retailprice,
           CAST(COUNT(*) OVER (ORDER BY p_size ASC NULLS LAST
                               RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT)
             AS n_similar_size,
           ROUND(AVG(p_retailprice) OVER (ORDER BY p_size ASC NULLS LAST
                                          RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
             AS avg_price_similar
    FROM part
    """,
)
def q_win_range(spark, sf_dir):
    """RANGE BETWEEN frame on a numeric ordering — frame membership by
    value distance, not row position. (Unpartitioned: `part` is a
    dimension table; on a fact table this would need a partition key.)"""
    p = load_table(spark, sf_dir, "part")
    w = Window.orderBy(F.col("p_size").asc_nulls_last()).rangeBetween(-2, 2)
    return p.select(
        "p_partkey",
        "p_size",
        "p_retailprice",
        F.count(F.lit(1)).over(w).alias("n_similar_size"),
        F.round(F.avg("p_retailprice").over(w), 6).alias("avg_price_similar"),
    )


@query(
    "q_win_dist",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROUND(c_acctbal, 2) AS c_acctbal,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           ROUND(FIRST_VALUE(c_acctbal) OVER (w ROWS BETWEEN UNBOUNDED
             PRECEDING AND UNBOUNDED FOLLOWING), 2) AS nation_min_bal,
           ROUND(LAST_VALUE(c_acctbal) OVER (w ROWS BETWEEN UNBOUNDED
             PRECEDING AND UNBOUNDED FOLLOWING), 2) AS nation_max_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal ASC NULLS LAST, c_custkey ASC NULLS LAST)
    """,
)
def q_win_dist(spark, sf_dir):
    """Distribution window functions — NTILE / PERCENT_RANK /
    CUME_DIST plus FIRST/LAST_VALUE over an explicit full-partition
    frame (the default frame stops at CURRENT ROW, which would make
    LAST_VALUE degenerate). Ordering carries the c_custkey tiebreak
    so ties rank identically on both engines.

    Scale: one hash-partition exchange on c_nationkey, then all five
    functions evaluate in a single WindowExec pass over each sorted
    partition — adding functions to the same window is free."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc_nulls_last(), F.col("c_custkey").asc_nulls_last()
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.first("c_acctbal").over(w_full), 2).alias("nation_min_bal"),
        F.round(F.last("c_acctbal").over(w_full), 2).alias("nation_max_bal"),
    )

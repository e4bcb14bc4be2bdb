"""Warehouse-audit batch 2 (r6) — cross-table referential-integrity
reconciliation. Extends operators/audit.py (DQ checks, SCD2, PIT
join) in its own module.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query


@query(
    "q_dq_reconcile",
    oracle="""
    WITH li_roll AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             SUM(l_extendedprice * (1 - l_discount)) AS li_revenue
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT o.o_orderkey, o.o_totalprice, r.n_items, r.li_revenue
      FROM orders o LEFT JOIN li_roll r ON o.o_orderkey = r.l_orderkey
    ),
    orphans AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan_items
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    ),
    cust_miss AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders_no_customer
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN n_items IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_childless_orders,
           (SELECT n_orphan_items FROM orphans) AS n_orphan_items,
           (SELECT n_orders_no_customer FROM cust_miss)
             AS n_orders_no_customer,
           ROUND(SUM(o_totalprice), 2) AS orders_total,
           ROUND(SUM(COALESCE(li_revenue, 0)), 2) AS lineitem_revenue
    FROM joined
    """,
)
def q_dq_reconcile(spark, sf_dir):
    """Cross-table referential-integrity reconciliation — the audit a
    warehouse runs after every load: orphan lineitems (no parent
    order), childless orders (no items), orders with a dangling
    customer key, and the two independent revenue totals side by side
    (the synthetic fixture's o_totalprice is not derived from
    lineitem, so the totals legitimately differ — the audit REPORTS
    both rather than asserting equality; an ETL regression shows up
    as a delta shift). The known testdata quirk that foreign keys are
    complete (anti-joins empty, FIXTURES.md) makes the three
    violation counts 0 — which is exactly what the audit should
    report on clean data, and any future fixture drop that breaks
    integrity flips them non-zero.

    Plan shape: one orderkey rollup of lineitem (map-side combine) +
    LEFT join to orders co-partitioned on the same key; the two
    NOT-EXISTS checks compile to broadcast/shuffle anti joins whose
    build sides are key-projections only. Scale: everything is keyed
    on orderkey/custkey — no global state beyond the final 1-row
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li_roll = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "li_revenue"
        ),
    )
    joined = o.join(li_roll, o.o_orderkey == li_roll.l_orderkey, "left")
    orphans = li.join(
        o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orphan_items"))
    cust_miss = o.join(
        c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_orders_no_customer"))
    core = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("n_items").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_childless_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("orders_total"),
        F.round(F.sum(F.coalesce(F.col("li_revenue"), F.lit(0.0))), 2).alias(
            "lineitem_revenue"
        ),
    )
    return core.crossJoin(F.broadcast(orphans)).crossJoin(
        F.broadcast(cust_miss)
    ).select(
        "n_orders",
        "n_childless_orders",
        "n_orphan_items",
        "n_orders_no_customer",
        "orders_total",
        "lineitem_revenue",
    )

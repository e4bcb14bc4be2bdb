"""TPC-H classics round 4 (r5) — Q2, Q9, Q11, Q12, Q16, Q20: the six
shapes tpch_more.py deferred for lack of a partsupp table / ship-mode
columns, now closed with a *derived partsupp* adaptation so the full
22/22 TPC-H shape inventory runs on the driver testdata. Reference
parity target: the reference is a TPC-flavored engine
(src/main.rs:28-29 `tpc-1`) whose entire SQL surface arrives via
ctx.sql (benches/query.rs:43).

Derived partsupp: the testdata has no partsupp.parquet, but lineitem's
(l_partkey, l_suppkey) pairs ARE the part-supplier relationships, so

    partsupp(ps_partkey, ps_suppkey,
             ps_supplycost = MIN(l_extendedprice / l_quantity),
             ps_availqty   = SUM(l_quantity))

is derived with IDENTICAL text on both engines (one extra groupBy
shuffle on the composite key; ~52k pairs at sf0.01). Each division is
a single IEEE double op on identical inputs, so MIN/SUM are
bit-reproducible cross-engine and even the float-equality join of Q2
("cost = MIN(cost) per part") is exact.

Column adaptations (testdata lacks the stock columns, quirks per
FIXTURES.md): Q2 drops p_mfgr/s_address (absent) from the output; Q9
keeps its p_name LIKE filter verbatim ('%red%' — testdata p_name is
"color noun"); Q12's l_shipmode class split becomes l_returnflag and
the commit/receipt lateness predicate becomes l_shipdate >
o_orderdate + 90 days (same cross-column timestamp arithmetic shape);
Q16's s_comment 'Customer Complaints' blacklist becomes s_acctbal < 0
(6 suppliers); Q20's 'forest%' becomes 'blue%'; Q11's nation is
NATION_7 with fraction 0.001 (the stock 0.0001/SF scaled to the
testdata supplier fan-out; the nearest group sits 1.3e-4 relative
from the threshold — nine orders of magnitude above double ulp error,
so the HAVING comparison cannot flip cross-engine).

Q2/Q11/Q20 run a shared SQL BODY verbatim through both spark.sql and
DuckDB (the decorrelation shapes — correlated scalar MIN,
HAVING-vs-scalar-subquery, nested IN + two-key correlated scalar —
where identical text is the parity statement). Q9/Q12/Q16 are
DataFrame-API-first with mirrored oracles. Since r6, the Spark side
resolves `partsupp` as the MATERIALIZED derived table
(catalog.derived_partsupp — built once per lineitem fingerprint)
while the oracles keep the inline CTE; the provenance difference is
bit-invisible (order-independent MIN, exact integral-double SUM,
lossless parquet round-trip), and it removes the per-execution
lineitem re-aggregation that made q_tpch_q9 the suite's worst
12-concurrent amplifier (VERDICT r5 item 3, BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import (
    data_bytes,
    derived_partsupp,
    load_table,
    partsupp_dir,
    register_tables,
    register_view,
)
from datafusion_tpc_spark.registry import query

# Identical semantics on both engines (see module docstring). The
# ORACLES derive partsupp inline with this CTE; the Spark side reads
# the MATERIALIZED copy (catalog.derived_partsupp — built once per
# lineitem fingerprint, VERDICT r5 item 3: per-query re-derivation
# made q_tpch_q9 the suite's worst 12-concurrent amplifier). The
# query BODIES below stay verbatim-shared between spark.sql and
# DuckDB; only the partsupp *provenance* differs — CTE vs persisted
# table — which is bit-invisible (MIN is order-independent,
# SUM(l_quantity) is an exact integral-double sum, parquet
# round-trips doubles losslessly).
_PARTSUPP_CTE = """
    WITH partsupp AS (
      SELECT l_partkey AS ps_partkey,
             l_suppkey AS ps_suppkey,
             MIN(l_extendedprice / l_quantity) AS ps_supplycost,
             SUM(l_quantity) AS ps_availqty
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    )
"""


def _register_with_partsupp(spark, sf_dir):
    """Register the standard views plus the materialized partsupp, so
    the shared SQL bodies resolve `partsupp` as a table on the Spark
    side exactly as the oracle's CTE does on the DuckDB side."""
    register_tables(spark, sf_dir)
    register_view(spark, "partsupp", derived_partsupp(spark, sf_dir))


_Q2_BODY = """
    SELECT ROUND(s.s_acctbal, 2) AS s_acctbal, s.s_name, n.n_name,
           p.p_partkey, ROUND(ps.ps_supplycost, 6) AS supplycost
    FROM part p
    JOIN partsupp ps ON p.p_partkey = ps.ps_partkey
    JOIN supplier s  ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE p.p_type = 'LARGE' AND p.p_size <= 15 AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM partsupp ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC NULLS LAST, n.n_name ASC NULLS LAST,
             s.s_name ASC NULLS LAST, p.p_partkey ASC NULLS LAST
    LIMIT 100
"""
_Q2_SQL = _PARTSUPP_CTE + _Q2_BODY


@query("q_tpch_q2", oracle=_Q2_SQL)
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): for every LARGE small-size
    part, the EUROPE supplier(s) offering the region-minimum supply
    cost — the correlated scalar MIN subquery whose inner side repeats
    the outer's dim-join gauntlet. Catalyst decorrelates to a per-part
    MIN aggregate + equi-join + float-equality filter; the equality is
    exact because both sides pick MIN from the same bit-identical
    division results (module docstring). p_mfgr/s_address/s_phone are
    absent in testdata and dropped from the projection; the shape
    (two-sided dim gauntlet + correlated MIN + top-100) is intact.

    Scale: partsupp derivation is one composite-key shuffle; Catalyst
    plans the inner and outer dim gauntlets with broadcast
    nation/region; the decorrelated MIN reuses the partkey shuffle;
    top-100 via TakeOrderedAndProject — no global sort. partsupp is
    the materialized derived table (catalog.derived_partsupp); the
    query body is verbatim-shared with the oracle."""
    _register_with_partsupp(spark, sf_dir)
    return spark.sql(_Q2_BODY)


@query(
    "q_tpch_q9",
    oracle=_PARTSUPP_CTE
    + """
    , profit AS (
      SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - ps.ps_supplycost * l.l_quantity AS amount
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                      AND ps.ps_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%red%'
    )
    SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
    FROM profit
    GROUP BY nation, o_year
    ORDER BY nation ASC NULLS LAST, o_year DESC NULLS LAST
    """,
)
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit): profit = revenue − supply cost
    per nation × order-year over the six-way lineitem star join, parts
    gated by a p_name LIKE. The distinguishing shape: lineitem joins
    partsupp on the COMPOSITE (partkey, suppkey) key — the only
    two-column equi-join in the TPC-H suite — plus an arithmetic
    difference of two products aggregated after. ROUND 2dp: the sum is
    a difference of large terms (CLAUDE.md convention).

    Scale: partsupp is the materialized derived table (catalog.
    derived_partsupp; was re-aggregated per execution pre-r6 — the
    suite's worst 12-concurrent amplifier, VERDICT r5 item 3). The
    part LIKE filter is propagated to the partsupp side as a
    broadcast SEMI join on the red part keys BEFORE the composite-key
    join — semantically free (ps rows for non-red parts can never
    survive the inner part join) but it shrinks the ps build side
    ~10×, which cut the 12-concurrent supplement 15.8 s → 1.7 s at
    sf0.1 (the manual form of the dynamic filter Spark's DPP applies
    only to partitioned scans). The broadcast hint is gated on the
    materialized partsupp's on-disk size (< 256 MB parquet): at
    100 TB the filtered ps stops being broadcastable, the hint is
    dropped, and the same semi join feeds a co-partitioned
    (partkey, suppkey) shuffle join (AQE may still re-pick broadcast
    from runtime sizes) — the filter propagation is the
    scale-relevant part, not the broadcast. Part's
    LIKE prunes before its join; nation broadcasts; final agg is
    |nations|×|years| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    red_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    ps_dir = partsupp_dir(spark, sf_dir)
    ps = spark.read.parquet(ps_dir).join(
        F.broadcast(red_keys),
        F.col("ps_partkey") == red_keys.p_partkey,
        "left_semi",
    )
    # Broadcast the red-filtered ps only while the FULL materialized
    # partsupp is small on disk (< 256 MB parquet → filtered ps well
    # under broadcast limits). Beyond that, no hint: the unconditional
    # F.broadcast overrode autoBroadcastJoinThreshold and would OOM
    # instead of falling back (ADVICE r6); un-hinted, AQE still
    # converts to broadcast at runtime when the actual size fits,
    # else keeps the co-partitioned composite-key shuffle join.
    if data_bytes(ps_dir) < 256 * 1024 * 1024:
        ps = F.broadcast(ps)
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy(F.col("nation").asc_nulls_last(), F.col("o_year").desc_nulls_last())
    )


_Q11_BODY = """
    SELECT ps.ps_partkey,
           ROUND(SUM(ps.ps_supplycost * ps.ps_availqty), 2) AS value
    FROM partsupp ps
    JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7'
    GROUP BY ps.ps_partkey
    HAVING SUM(ps.ps_supplycost * ps.ps_availqty) > (
      SELECT SUM(ps2.ps_supplycost * ps2.ps_availqty) * 0.001
      FROM partsupp ps2
      JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
      JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
      WHERE n2.n_name = 'NATION_7'
    )
    ORDER BY value DESC NULLS LAST, ps.ps_partkey ASC NULLS LAST
"""
_Q11_SQL = _PARTSUPP_CTE + _Q11_BODY


@query("q_tpch_q11", oracle=_Q11_SQL)
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (important stock): per-part inventory value for one
    nation's suppliers, kept only where the part's value exceeds a
    fixed fraction of the nation's TOTAL value — the HAVING-against-
    uncorrelated-scalar-subquery shape, where the same aggregated
    subplan feeds both the groups and the global threshold. Fraction
    0.001 (vs stock 0.0001/SF) sized to the testdata fan-out; the
    nearest group is 1.3e-4 relative from the threshold, so
    cross-engine sum-order ulp drift cannot flip membership. The
    HAVING compares RAW sums; only the displayed value is rounded
    (q_tpch_q15 convention).

    Scale: partsupp derivation shuffles once on the composite key;
    the nation filter broadcasts through supplier; the scalar total
    is a broadcast one-row subplan; the per-part agg shuffles on
    ps_partkey. partsupp is the materialized derived table
    (catalog.derived_partsupp) — Catalyst's double reference to it
    (groups + global threshold) now re-reads a small persisted
    parquet instead of re-aggregating lineitem twice."""
    _register_with_partsupp(spark, sf_dir)
    return spark.sql(_Q11_BODY)


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    ORDER BY ship_class ASC NULLS LAST
    """,
)
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping modes / order priority): count lines per
    class split into high/low priority CASE sums. Testdata has no
    l_shipmode/l_commitdate/l_receiptdate, so the class key becomes
    l_returnflag and the stock receipt-lateness chain becomes ONE
    cross-column timestamp comparison with interval arithmetic
    (l_shipdate > o_orderdate + 90 days) — the shape under test (a
    join residual comparing columns of BOTH sides plus a pushable
    range predicate) is intact: the shipdate range pushes to the
    lineitem scan, the cross-column lateness predicate must stay a
    join residual.

    Scale: one orderkey shuffle; both CASE sums share one
    aggregation state; 3 output rows."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy(F.col("ship_class").asc_nulls_last())
    )


@query(
    "q_tpch_q16",
    oracle=_PARTSUPP_CTE
    + """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC NULLS LAST, p.p_brand ASC NULLS LAST,
             p.p_type ASC NULLS LAST, p.p_size ASC NULLS LAST
    """,
)
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship): distinct-supplier
    counts per (brand, type, size) bucket, excluding a supplier
    blacklist — COUNT(DISTINCT) over a join with a NOT IN subquery.
    The stock s_comment LIKE '%Customer%Complaints%' blacklist becomes
    s_acctbal < 0 (column absent; 6 suppliers match). The DataFrame
    side expresses NOT IN as a LEFT ANTI join — exactly Catalyst's
    own rewrite for non-null keys (s_suppkey is a generated PK;
    q_join_anti covers the null-aware case).

    Scale: the blacklist side is 6 rows → broadcast anti join, zero
    extra shuffle; negated brand/type predicates and the size IN-list
    prune the part scan; COUNT(DISTINCT suppkey) expands per group —
    bounded by 100 suppliers per bucket."""
    ps = derived_partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad), ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(p, F.col("ps_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc_nulls_last(),
            F.col("p_brand").asc_nulls_last(),
            F.col("p_type").asc_nulls_last(),
            F.col("p_size").asc_nulls_last(),
        )
    )


_Q20_BODY = """
    SELECT s.s_name, ROUND(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT ps.ps_suppkey
        FROM partsupp ps
        WHERE ps.ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'blue%'
          )
          AND ps.ps_availqty > (
            SELECT 0.5 * SUM(l.l_quantity)
            FROM lineitem l
            WHERE l.l_partkey = ps.ps_partkey
              AND l.l_suppkey = ps.ps_suppkey
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate <  TIMESTAMP '1998-01-01'
          )
      )
    ORDER BY s.s_name ASC NULLS LAST
"""
_Q20_SQL = _PARTSUPP_CTE + _Q20_BODY


@query("q_tpch_q20", oracle=_Q20_SQL)
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (potential part promotion): suppliers in one nation
    whose stock of 'blue' parts exceeds half of what they shipped in
    1997 — the deepest nesting in the suite: IN (subquery that itself
    contains an IN subquery AND a TWO-KEY correlated scalar aggregate
    subquery). 'forest%' → 'blue%' (testdata p_name vocabulary); the
    quantity comparison is exact cross-engine (sums of integral-valued
    doubles). NULL semantics match: a (part,supplier) pair with no
    1997 shipments yields a NULL threshold in both engines and drops.

    Scale: Catalyst decorrelates the scalar subquery to a
    (partkey, suppkey)-keyed aggregate joined back — co-partitioned
    with the partsupp derivation's own shuffle; the part IN-list
    becomes a semi join pruned by the LIKE; the outer IN a semi join
    on suppkey; nation broadcasts. partsupp is the materialized
    derived table (catalog.derived_partsupp)."""
    _register_with_partsupp(spark, sf_dir)
    return spark.sql(_Q20_BODY)

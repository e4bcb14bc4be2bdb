"""Aggregation batch 2 (r5-born) — bitwise aggregates, conditional
aggregation, regr_* linear-regression family, histogram equalization,
A/B test z-statistic, Gini coefficient. Split from
queries/aggregates.py in round 6.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query

@query(
    "q_agg_bitwise",
    oracle="""
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS all_bits,
           CAST(bit_or(user_id)  AS BIGINT) AS any_bits,
           CAST(bit_xor(user_id) AS BIGINT) AS parity_bits,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 60 AS INTEGER))
                AS BIGINT) AS presence_mask
    FROM events
    GROUP BY event_type
    ORDER BY event_type NULLS LAST
    """,
)
def q_agg_bitwise(spark, sf_dir):
    """Bitwise aggregates — bit_and/bit_or/bit_xor plus the
    presence-bitmap idiom (OR of 1 << (key % 60)): the fixed-size
    set-membership sketch behind bitmap indexes and roaring-style
    audience filters. All four accumulate into a single 8-byte state
    per group — the cheapest aggregate family there is at 100 TB
    (map-side combine reduces every partition to one word per
    group).

    Cross-engine note: both engines define <<, bit_and/or/xor on
    64-bit ints identically; the modulus is 60 (not 64) because
    DuckDB raises on signed overflow at 1 << 63 where Spark wraps —
    keeping the top bits clear sidesteps the semantic edge; user_id
    is non-negative in the fixture so % stays non-negative on both."""
    ev = load_table(spark, sf_dir, "events")
    # SQL form: the Python shiftleft() helper takes only a literal
    # bit count, the expression form accepts a per-row column
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 60 AS INT))")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("user_id").cast("bigint").alias("all_bits"),
            F.bit_or("user_id").cast("bigint").alias("any_bits"),
            F.bit_xor("user_id").cast("bigint").alias("parity_bits"),
            F.bit_or(mask).cast("bigint").alias("presence_mask"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@query(
    "q_agg_condagg",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
           bool_and(l_discount <= 0.1) AS all_mild_disc,
           bool_or(l_tax > 0.07) AS any_high_tax,
           CAST(count_if(l_quantity > 25) AS DOUBLE) / COUNT(*) AS bulk_frac
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS LAST
    """,
)
def q_agg_condagg(spark, sf_dir):
    """Conditional/boolean aggregate family (Spark 3.5+ surface,
    DuckDB same names): count_if, bool_and (EVERY), bool_or (ANY),
    and a derived conditional fraction — the predicates-inside-
    aggregation idiom that replaces SUM(CASE WHEN ...) with
    intention-revealing aggregates. All deterministic (no any_value /
    untied max_by), so the oracle is exact. bulk_frac divides an
    exact integer by an exact count — one double op, no rounding
    needed.

    Scale: all four share one two-phase hash aggregation; boolean
    aggregate state is one byte per group."""
    li = load_table(spark, sf_dir, "lineitem")
    n_bulk = F.count_if(F.col("l_quantity") > 25).cast("bigint")
    return (
        li.groupBy("l_returnflag")
        .agg(
            n_bulk.alias("n_bulk"),
            F.bool_and(F.col("l_discount") <= 0.1).alias("all_mild_disc"),
            F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
            (n_bulk.cast("double") / F.count(F.lit(1))).alias("bulk_frac"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_last())
    )


@query(
    "q_agg_regr",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
           ROUND(regr_avgy(l_extendedprice, l_quantity), 6) AS avgy
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS LAST
    """,
)
def q_agg_regr(spark, sf_dir):
    """Linear-regression aggregate family (SQL:2003 regr_*; Spark
    3.5+ and DuckDB share names AND definitions — slope =
    covar_pop/var_pop over non-null pairs): price-vs-quantity fit per
    return flag. Completes the §2.4 stats row (stddev/var/corr,
    q_agg_stats) with the bivariate-fit surface — the in-SQL
    counterpart of q_pipe_classify's apply-a-model direction (this
    FITS the model, one pass, no Python).

    Scale: all six aggregates reduce to the same five running sums
    (n, Σx, Σy, Σxx, Σxy) in one two-phase hash aggregation —
    constant state per group."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("bigint").alias("n"),
            F.round(F.regr_slope(y, x), 6).alias("slope"),
            F.round(F.regr_intercept(y, x), 6).alias("icept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.round(F.regr_avgx(y, x), 6).alias("avgx"),
            F.round(F.regr_avgy(y, x), 6).alias("avgy"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_last())
    )


@query(
    "q_agg_histeq",
    oracle="""
    WITH t AS (
      SELECT o_orderpriority,
             o_totalprice,
             NTILE(8) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC NULLS LAST,
                                     o_orderkey ASC NULLS LAST) AS bucket
      FROM orders
    )
    SELECT o_orderpriority, CAST(bucket AS INTEGER) AS bucket,
           ROUND(MIN(o_totalprice), 6) AS lo,
           ROUND(MAX(o_totalprice), 6) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM t
    GROUP BY o_orderpriority, bucket
    ORDER BY o_orderpriority ASC NULLS LAST, bucket ASC NULLS LAST
    """,
)
def q_agg_histeq(spark, sf_dir):
    """Equi-depth (equi-height) histogram per order priority: NTILE(8)
    over (o_totalprice, o_orderkey) — the deterministic total order
    makes exact equi-depth oracle-able — then per-bucket lo/hi/count.
    This is the CBO statistics-collection shape (ANALYZE ... FOR
    COLUMNS builds exactly these). Scale note: exact NTILE funnels
    each group through one reducer; at 100 TB swap the exact pass for
    approx_percentile boundary estimation + a bucketing join — the
    rollup/serving schema stays identical, only the boundary source
    changes (q_agg_pctl covers the sketch path)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc_nulls_last(), F.col("o_orderkey").asc_nulls_last()
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(8).over(w).cast("int").alias("bucket"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_last(),
            F.col("bucket").asc_nulls_last(),
        )
    )


@query(
    "q_agg_abtest",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n_b,
           ROUND(AVG(value) FILTER (WHERE user_id % 2 = 0), 6) AS mean_a,
           ROUND(AVG(value) FILTER (WHERE user_id % 2 = 1), 6) AS mean_b,
           ROUND(CASE WHEN
               COALESCE(var_samp(value) FILTER (WHERE user_id % 2 = 0), 0)
               / GREATEST(COUNT(*) FILTER (WHERE user_id % 2 = 0), 1)
               + COALESCE(var_samp(value) FILTER (WHERE user_id % 2 = 1), 0)
               / GREATEST(COUNT(*) FILTER (WHERE user_id % 2 = 1), 1) > 0
             THEN
               (AVG(value) FILTER (WHERE user_id % 2 = 0)
                - AVG(value) FILTER (WHERE user_id % 2 = 1))
               / sqrt(
                   var_samp(value) FILTER (WHERE user_id % 2 = 0)
                   / (COUNT(*) FILTER (WHERE user_id % 2 = 0))
                   + var_samp(value) FILTER (WHERE user_id % 2 = 1)
                   / (COUNT(*) FILTER (WHERE user_id % 2 = 1))
                 )
             END, 6) AS t_welch
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC NULLS LAST
    """,
)
def q_agg_abtest(spark, sf_dir):
    """A/B experiment readout per event_type: deterministic split on
    user_id parity, then per-arm counts/means and the Welch t
    statistic — all from ONE conditional aggregation (count/avg/var
    FILTER-style aggs share the scan and combine map-side; no join,
    no second pass). The t-stat is pure arithmetic over the agg
    outputs, computed raw then rounded on both engines."""
    ev = load_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    b = F.col("user_id") % 2 == 1
    n_a = F.count_if(a)
    n_b = F.count_if(b)
    mean_a = F.avg(F.when(a, F.col("value")))
    mean_b = F.avg(F.when(b, F.col("value")))
    var_a = F.var_samp(F.when(a, F.col("value")))
    var_b = F.var_samp(F.when(b, F.col("value")))
    return (
        ev.groupBy("event_type")
        .agg(
            n_a.cast("bigint").alias("n_a"),
            n_b.cast("bigint").alias("n_b"),
            F.round(mean_a, 6).alias("mean_a"),
            F.round(mean_b, 6).alias("mean_b"),
            # guard: NULL t-stat when an arm is empty or both arms are
            # constant (denominator 0) — a div-by-zero here diverges
            # cross-engine (Spark NULL/Infinity vs DuckDB inf), and the
            # empty-arm case is one skewed fixture drop away.
            F.round(
                F.when(
                    F.coalesce(var_a, F.lit(0.0)) / F.greatest(n_a, F.lit(1))
                    + F.coalesce(var_b, F.lit(0.0)) / F.greatest(n_b, F.lit(1))
                    > 0,
                    (mean_a - mean_b) / F.sqrt(var_a / n_a + var_b / n_b),
                ),
                6,
            ).alias("t_welch"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@query(
    "q_agg_gini",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, ROUND(SUM(l_extendedprice), 2) AS r
      FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r ASC NULLS LAST,
                                   l_suppkey ASC NULLS LAST) AS i
      FROM rev
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(r), 2) AS total_revenue,
           ROUND(2.0 * SUM(i * r) / (COUNT(*) * SUM(r))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    """,
)
def q_agg_gini(spark, sf_dir):
    """Gini coefficient of supplier revenue concentration — the
    inequality metric for corpus/supplier skew dashboards (how
    top-heavy is the distribution the salted joins and AQE skew
    handling exist for). Revenue is rounded to 2dp BEFORE ranking so
    the rank permutation is identical cross-engine (ulp-level sum
    differences cannot reorder; ties break on suppkey), then
    G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over the supplier-bound table.
    100 TB: one fact aggregation; the rank pass runs over suppliers,
    not rows."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("r")
    )
    w = Window.orderBy(
        F.col("r").asc_nulls_last(), F.col("l_suppkey").asc_nulls_last()
    )
    # n comes from the final aggregate itself (it runs over the whole
    # ranked table) — no extra global-window pass (review r5).
    ranked = rev.select("r", F.row_number().over(w).alias("i"))
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("bigint").alias("n_suppliers"),
        F.round(F.sum("r"), 2).alias("total_revenue"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("r")) / (n * F.sum("r"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )

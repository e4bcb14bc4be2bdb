"""Behavioral event analytics — funnel, retention, LOCF gap-fill,
anomaly, Markov transitions, rollup, top paths, attribution, CUSUM,
seasonality. Split from queries/events.py in round 6.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query

@query(
    "q_evt_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    v AS (
      SELECT user_id, MIN(ts) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS depth
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    ORDER BY u.user_id ASC NULLS LAST
    """,
)
def q_evt_funnel(spark, sf_dir):
    """Ordered funnel analysis (beyond reference — the product-
    analytics staple): per user, the earliest view → first click
    AFTER that view → first purchase AFTER that click, plus the
    funnel depth reached. The sequential "step N must follow step
    N-1" constraint makes this non-expressible as one aggregation;
    the engine shape is a chain of per-key MIN aggregations, each
    joined back and filtered by the previous step's timestamp —
    exactly how Catalyst decorrelates the equivalent nested
    subqueries, stated explicitly (same CTE text in the oracle).

    Scale: every aggregation and join keys on user_id — ONE
    partitioning reused across all three steps and the final
    assembly (co-partitioned joins, no re-shuffle); each step's
    input shrinks monotonically (only users who completed the prior
    step). 100 TB: |users| bounds state, not |events|; step tables
    are tiny and broadcast under AQE."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    users = ev.select("user_id").distinct()
    depth = (
        F.when(F.col("t_purchase").isNotNull(), F.lit(3))
        .when(F.col("t_click").isNotNull(), F.lit(2))
        .when(F.col("t_view").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
    )
    return (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase", depth.alias("depth"))
        .orderBy(F.col("user_id").asc_nulls_last())
    )


@query(
    "q_evt_retention",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    cohort AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM e WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS week
      FROM e
    )
    SELECT c.cohort_week,
           CAST(datediff('day', c.cohort_week, a.week) // 7 AS INT) AS age_weeks,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a
    JOIN cohort c ON a.user_id = c.user_id
    WHERE a.week >= c.cohort_week
    GROUP BY c.cohort_week, age_weeks
    ORDER BY c.cohort_week ASC NULLS LAST, age_weeks ASC NULLS LAST
    """,
)
def q_evt_retention(spark, sf_dir):
    """Cohort retention matrix — the other product-analytics staple
    next to q_evt_funnel: users cohorted by the week of their first
    `signup` event, counted as active in each subsequent week they
    produced ANY event; output is (cohort_week, age_weeks, n_active).
    Week truncation is ISO-Monday in both engines (date_trunc
    'week'), and week age is integer day-arithmetic (datediff // 7)
    — no float, no timezone edge (sessions pin UTC).

    Scale: cohort and activity are both user-keyed aggregates over
    one scan each — the user_id shuffle is shared by the cohort agg,
    the distinct-activity agg, and their join (co-partitioned); the
    final matrix is |cohorts|×|ages| rows. COUNT(DISTINCT user) is
    safe because the join key IS the distinct key — each user
    contributes each (cohort, age) pair at most once after the
    DISTINCT activity step, so this compiles to a plain count."""
    ev = load_table(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    age = (F.datediff(F.col("week"), F.col("cohort_week")) / F.lit(7)).cast("int")
    return (
        activity.join(cohort, "user_id")
        .filter(F.col("week") >= F.col("cohort_week"))
        .select("cohort_week", age.alias("age_weeks"), "user_id")
        .groupBy("cohort_week", "age_weeks")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
        .orderBy(
            F.col("cohort_week").asc_nulls_last(), F.col("age_weeks").asc_nulls_last()
        )
    )


@query(
    "q_evt_locf",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour,
             value
      FROM events
    ),
    hourly AS (
      SELECT user_id, hour, ROUND(AVG(value), 6) AS v
      FROM e GROUP BY user_id, hour
    ),
    bounds AS (SELECT MIN(hour) AS lo, MAX(hour) AS hi FROM e),
    spine AS (
      SELECT u.user_id, CAST(g.h AS TIMESTAMP) AS hour
      FROM (SELECT DISTINCT user_id FROM e) u,
           bounds b,
           LATERAL (SELECT unnest(generate_series(b.lo, b.hi,
                                  INTERVAL 1 HOUR)) AS h) g
    )
    SELECT s.user_id, s.hour,
           last_value(h.v IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
           CASE WHEN h.v IS NOT NULL THEN 'obs' ELSE 'locf' END AS src
    FROM spine s
    LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
    ORDER BY s.user_id ASC NULLS LAST, s.hour ASC NULLS LAST
    """,
)
def q_evt_locf(spark, sf_dir):
    """Time-series densification with last-observation-carried-forward
    — the gap-filling twin of q_cte_recursive's month spine, at the
    value level: a dense per-user hourly spine (sequence over the
    global [min, max] hour bounds), LEFT-joined to the observed
    hourly averages, with gaps filled by `last(v, ignoreNulls)` over
    an unbounded-preceding frame (hours before a user's first
    observation stay NULL — LOCF has nothing to carry). The per-hour
    average is rounded BEFORE filling so both engines propagate
    identical doubles.

    Scale: bounds are a broadcast one-row scalar; the spine is
    |users| × |hours| rows generated by a row-local sequence explode
    (never a shuffle); the join and the window share the user_id
    partitioning. The LOCF frame is the textbook
    running-last-ignoring-nulls — O(1) state per row in
    BoundedWindowAggExec terms, no re-sort beyond the window's own."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour"), "value"
    )
    hourly = ev.groupBy("user_id", "hour").agg(F.round(F.avg("value"), 6).alias("v"))
    bounds = ev.agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
    spine = (
        ev.select("user_id")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour"),
        )
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
            F.when(F.col("v").isNotNull(), "obs").otherwise("locf").alias("src"),
        )
        # no final orderBy: presentation-only global sorts are dropped
        # repo-wide (r4 convention) — the driver hash is
        # order-insensitive and the window already sorted per user
    )


@query(
    "q_evt_anomaly",
    oracle="""
    WITH stats AS (
      SELECT user_id, AVG(value) AS mu, stddev_samp(value) AS sigma,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, ROUND(e.value, 6) AS value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e
    JOIN stats s ON e.user_id = s.user_id
    WHERE s.n >= 30 AND s.sigma > 0
      AND abs((e.value - s.mu) / s.sigma) > 2.5
    ORDER BY e.event_id ASC NULLS LAST
    """,
)
def q_evt_anomaly(spark, sf_dir):
    """Per-entity anomaly detection: events whose value sits more
    than 2.5 sample standard deviations from the user's own mean —
    the ops-monitoring staple (per-host latency outliers, per-user
    spend spikes). The z-score is rounded at 4dp: the threshold
    compare runs on RAW doubles and typical margins dwarf sum-order
    ulp (same argument as q_tpch_q11's threshold); groups need n ≥ 30
    and positive variance so the score is meaningful and the
    division is defined in both engines.

    Scale: one user-keyed aggregation + one co-keyed join back to
    the stream — at high key cardinality the stats side stays
    |users| rows and broadcasts under AQE; a windowed variant (same
    expression over Window.partitionBy) trades the join for one
    window sort when per-row context is already partitioned."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(stats, "user_id")
        .filter((F.col("n") >= 30) & (F.col("sigma") > 0) & (F.abs(z) > 2.5))
        .select(
            "event_id",
            "user_id",
            F.round("value", 6).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
        .orderBy(F.col("event_id").asc_nulls_last())
    )


@query(
    "q_evt_markov",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC NULLS LAST, event_id ASC NULLS LAST
             ) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type
      FROM seq WHERE next_type IS NOT NULL
    )
    SELECT from_type, to_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY from_type), 6)
             AS p
    FROM pairs
    GROUP BY from_type, to_type
    ORDER BY from_type ASC NULLS LAST, to_type ASC NULLS LAST
    """,
)
def q_evt_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), from lead() pairs with a
    deterministic (ts, event_id) sequence order. The row-normalized
    probability divides two exact integers per cell — ulp-safe. The
    third member of the sequence-analytics family (funnel = fixed
    path, sessionize = gap structure, this = full transition
    structure).

    Scale: one user_id window pass builds the pairs (same exchange
    profile as q_win_lag), then a tiny |types|² aggregation; the
    normalizing SUM OVER runs on the aggregated matrix, not the
    events."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wnorm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wnorm), 6).alias("p"),
    ).orderBy(F.col("from_type").asc_nulls_last(), F.col("to_type").asc_nulls_last())


@query(
    "q_evt_rollup",
    oracle="""
    SELECT day, hour,
           CAST(GROUPING(day) AS INTEGER) AS g_day,
           CAST(GROUPING(hour) AS INTEGER) AS g_hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
             CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS hour,
             value
      FROM events
    )
    GROUP BY ROLLUP(day, hour)
    ORDER BY g_day DESC NULLS LAST, g_hour DESC NULLS LAST,
             day ASC NULLS FIRST, hour ASC NULLS FIRST
    """,
)
def q_evt_rollup(spark, sf_dir):
    """Time-hierarchy rollup (the hypertable / continuous-aggregate
    shape): day × hour multi-granularity aggregation in ONE pass via
    ROLLUP — hour rows, day subtotals, and the grand total share a
    single Expand + hash aggregation instead of three scans.
    GROUPING() flags keep subtotal rows distinguishable from data
    NULLs. 100 TB: this is the materialized-rollup build — one
    shuffle keyed by the coarsest-to-finest grouping tuple; at real
    scale the output IS the serving table for dashboard queries."""
    ev = load_table(spark, sf_dir, "events")
    based = ev.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        F.hour(F.col("ts").cast("timestamp")).alias("hour"),
        "value",
    )
    return (
        based.rollup("day", "hour")
        .agg(
            F.grouping("day").cast("int").alias("g_day"),
            F.grouping("hour").cast("int").alias("g_hour"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy(
            F.col("g_day").desc_nulls_last(),
            F.col("g_hour").desc_nulls_last(),
            F.col("day").asc_nulls_first(),
            F.col("hour").asc_nulls_first(),
        )
    )


@query(
    "q_evt_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t0,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP) ASC NULLS LAST,
                            event_id ASC NULLS LAST)
    )
    SELECT concat_ws('>', t0, t1, t2) AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC NULLS LAST, path ASC NULLS LAST
    LIMIT 10
    """,
)
def q_evt_paths(spark, sf_dir):
    """Top event paths (3-step sequence mining lite): per-user LEAD
    pairs over the (ts, event_id) total order form 3-gram paths;
    global count → top-10 via TakeOrderedAndProject. One user_id
    exchange for the window, one path-keyed partial/final agg — the
    path space is |event_types|³-bounded, so the second shuffle is
    tiny regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp").asc_nulls_last(),
        F.col("event_id").asc_nulls_last(),
    )
    seq = ev.select(
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    return (
        seq.select(F.concat_ws(">", "t0", "t1", "t2").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc_nulls_last(), F.col("path").asc_nulls_last())
        .limit(10)
    )


@query(
    "q_evt_attrib",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             LAST_VALUE(CASE WHEN event_type IN ('click','view')
                             THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS) OVER w
               AS touch_ts,
             LAST_VALUE(CASE WHEN event_type IN ('click','view')
                             THEN event_type END IGNORE NULLS) OVER w
               AS touch_type
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP) ASC NULLS LAST,
                            event_id ASC NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN touch_ts >= ts - INTERVAL 24 HOUR THEN touch_type END
             AS attributed_to,
           CASE WHEN touch_ts >= ts - INTERVAL 24 HOUR THEN touch_ts END
             AS touch_ts
    FROM e
    WHERE event_type = 'purchase'
    """,
)
def q_evt_attrib(spark, sf_dir):
    """Last-touch marketing attribution: each purchase attributes to
    the user's most recent click/view within a 24-hour lookback —
    NULL when no qualifying touch exists. One user_id exchange; the
    attribution is a pair of IGNORE-NULLS last_value calls over the
    preceding-rows frame (both pick the same source row because their
    NULL masks coincide), then a window filter on the 24h horizon.
    100 TB: state per key is the running last-touch — the same
    single-row lookback class as q_scd2, no accumulation."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").cast("timestamp").asc_nulls_last(),
            F.col("event_id").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("click", "view")
    touch_ts = F.last(
        F.when(is_touch, F.col("ts").cast("timestamp")), ignorenulls=True
    ).over(w)
    touch_type = F.last(
        F.when(is_touch, F.col("event_type")), ignorenulls=True
    ).over(w)
    qualified = touch_ts >= F.col("ts").cast("timestamp") - F.expr(
        "INTERVAL 24 HOURS"
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            F.when(qualified, touch_type).alias("attributed_to"),
            F.when(qualified, touch_ts).alias("touch_ts"),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )


@query(
    "q_evt_cusum",
    oracle="""
    WITH m AS (
      SELECT event_type, ROUND(AVG(value), 6) AS mu
      FROM events GROUP BY event_type
    ),
    c AS (
      SELECT e.event_type,
             SUM(e.value - m.mu) OVER (
               PARTITION BY e.event_type
               ORDER BY CAST(e.ts AS TIMESTAMP) ASC NULLS LAST,
                        e.event_id ASC NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM events e JOIN m ON e.event_type = m.event_type
    )
    SELECT event_type,
           ROUND(MAX(s), 6) AS cusum_max,
           ROUND(MIN(s), 6) AS cusum_min,
           ROUND(MAX(s) - MIN(s), 6) AS cusum_range
    FROM c
    GROUP BY event_type
    """,
)
def q_evt_cusum(spark, sf_dir):
    """CUSUM change detection per event_type: the cumulative sum of
    deviations from the (pre-rounded) type mean over the (ts,
    event_id) total order; a large |excursion| is the classic drift /
    level-shift alarm. Determinism choreography: the mean is
    ROUND(6)ed BEFORE subtraction so every deviation term is
    bit-identical cross-engine, and a running-frame window sum folds
    SEQUENTIALLY in the same order on both engines — the cumulative
    series is therefore exact, not merely rounded-close. One
    event_type exchange serves the mean join and the window.
    100 TB: state per key is one running scalar."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(F.round(F.avg("value"), 6).alias("mu"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(
            F.col("ts").cast("timestamp").asc_nulls_last(),
            F.col("event_id").asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        F.sum(F.col("value") - F.col("mu")).over(w).alias("s"),
    )
    return c.groupBy("event_type").agg(
        F.round(F.max("s"), 6).alias("cusum_max"),
        F.round(F.min("s"), 6).alias("cusum_min"),
        F.round(F.max("s") - F.min("s"), 6).alias("cusum_range"),
    )


@query(
    "q_evt_seasonality",
    oracle="""
    WITH h AS (
      SELECT CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INT) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(COUNT(*) AS BIGINT) AS k FROM h)
    SELECT CAST(tot.nt AS BIGINT) AS n_events,
           CAST(tot.k AS BIGINT) AS n_hours,
           ROUND(SUM((h.n - tot.nt * 1.0 / tot.k)
                     * (h.n - tot.nt * 1.0 / tot.k))
                 / (tot.nt * 1.0 / tot.k), 6) AS chi2
    FROM h, tot
    GROUP BY tot.nt, tot.k
    """,
)
def q_evt_seasonality(spark, sf_dir):
    """Hour-of-day seasonality test: the chi-square goodness-of-fit
    statistic of the hourly event histogram against uniformity — the
    "is there a daily cycle" alarm, the testing-family companion to
    q_agg_abtest (two-sample t) over the time axis. The expected
    count nt/k and the quadratic form are IEEE +,*,/ over integer
    counts — exact until the final ROUND. 100 TB: one hour-keyed agg
    (24 groups, map-side combined); the statistic is computed over
    the 24-row histogram."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.hour(F.col("ts").cast("timestamp")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = h.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    exp = F.col("nt") * 1.0 / F.col("k")
    return (
        h.crossJoin(F.broadcast(tot))
        .groupBy("nt", "k")
        .agg(
            F.round(
                F.sum((F.col("n") - exp) * (F.col("n") - exp)) / F.first(exp),
                6,
            ).alias("chi2")
        )
        .select(
            F.col("nt").alias("n_events"),
            F.col("k").alias("n_hours"),
            "chi2",
        )
    )

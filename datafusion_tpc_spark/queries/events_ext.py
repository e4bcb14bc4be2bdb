"""Event-analytics extensions, round 6 — gaps-and-islands (user
activity streaks). Companion to queries/events.py (funnel, retention,
LOCF, CUSUM, …), in its own module.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_tpc_spark.catalog import load_table
from datafusion_tpc_spark.registry import query


@query(
    "q_evt_rfm",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
    per_user AS (
      SELECT user_id,
             date_diff('day', MAX(CAST(ts AS DATE)), (SELECT maxd FROM anchor))
               AS rec_days,
             CAST(COUNT(*) AS BIGINT) AS freq,
             ROUND(SUM(value), 6) AS mon
      FROM events
      GROUP BY user_id
    ),
    scored AS (
      SELECT user_id,
             CAST(NTILE(5) OVER (ORDER BY rec_days ASC, user_id ASC) AS INT) AS r_q,
             CAST(NTILE(5) OVER (ORDER BY freq DESC, user_id ASC) AS INT) AS f_q,
             CAST(NTILE(5) OVER (ORDER BY mon DESC, user_id ASC) AS INT) AS m_q,
             freq, mon
      FROM per_user
    )
    SELECT r_q, f_q, m_q,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(freq), 6) AS avg_freq,
           ROUND(SUM(mon), 2) AS total_mon
    FROM scored
    GROUP BY r_q, f_q, m_q
    ORDER BY r_q ASC NULLS LAST, f_q ASC NULLS LAST, m_q ASC NULLS LAST
    """,
)
def q_evt_rfm(spark, sf_dir):
    """RFM (recency / frequency / monetary) segmentation — the
    classic customer-scoring shape: per-user recency-from-anchor,
    event count, and value sum, each quintiled with NTILE(5), then
    segment-level rollup. NTILE orders carry user_id tie-breaks and
    the monetary metric is pre-ROUNDed, so bucket boundaries are
    deterministic cross-engine (window tie-break convention).

    Plan shape: one user-keyed aggregation over the fact scan (maps
    combine), then three NTILE windows over the |users|-sized profile
    table — dimension-sized, not fact-sized; the global NTILE sort is
    over users only. 100 TB: the profile table is what fits easily
    (users ≪ events); if even that outgrows one partition, NTILE
    becomes percent_rank-over-range or the t-digest quantile cut, and
    the fact-side plan is unchanged. Anchor is a broadcast 1-row
    scalar, not a driver literal — no collect."""
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.col("ts").cast("date")).alias("maxd"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("lastd"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.round(F.sum("value"), 6).alias("mon"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("maxd"), F.col("lastd")).alias("rec_days"),
            "freq",
            "mon",
        )
    )
    scored = per_user.select(
        "user_id",
        F.ntile(5)
        .over(Window.orderBy(F.col("rec_days").asc(), F.col("user_id").asc()))
        .cast("int")
        .alias("r_q"),
        F.ntile(5)
        .over(Window.orderBy(F.col("freq").desc(), F.col("user_id").asc()))
        .cast("int")
        .alias("f_q"),
        F.ntile(5)
        .over(Window.orderBy(F.col("mon").desc(), F.col("user_id").asc()))
        .cast("int")
        .alias("m_q"),
        "freq",
        "mon",
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg("freq"), 6).alias("avg_freq"),
            F.round(F.sum("mon"), 2).alias("total_mon"),
        )
        .orderBy(
            F.col("r_q").asc_nulls_last(),
            F.col("f_q").asc_nulls_last(),
            F.col("m_q").asc_nulls_last(),
        )
    )


@query(
    "q_evt_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    numbered AS (
      SELECT user_id, d,
             date_diff('day', DATE '1970-01-01', d)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d ASC) AS grp
      FROM days
    ),
    islands AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM numbered GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           MAX(len) AS longest_streak
    FROM islands
    GROUP BY user_id
    ORDER BY longest_streak DESC NULLS LAST, user_id ASC NULLS LAST
    LIMIT 20
    """,
)
def q_evt_islands(spark, sf_dir):
    """Gaps-and-islands: per-user consecutive-day activity streaks —
    the classic sessionize-at-day-granularity SQL shape (retention /
    engagement-streak analytics). An island is a maximal run of
    consecutive active days; the standard trick groups by
    epoch_day − row_number, which is constant exactly within a
    consecutive run. Output: per-user island count and longest
    streak, top-20.

    Cross-engine exactness: epoch-day arithmetic is all-integer
    (datediff from a fixed epoch — the integer-DIV convention for
    date math), row_number is deterministic (partition ordered by the
    distinct day), so island ids match bit-for-bit.

    Scale: one distinct shuffle on (user, day) with map-side combine,
    then the window and both aggregations all share the user_id
    partitioning — Catalyst reuses one exchange; per-user state is
    |active days|. Top-20 is TakeOrdered. At 100 TB this is the
    standard daily-active rollup; nothing is corpus-wide."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy(F.col("d").asc())
    numbered = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    islands = numbered.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.max("len").alias("longest_streak"),
        )
        .orderBy(
            F.col("longest_streak").desc_nulls_last(),
            F.col("user_id").asc_nulls_last(),
        )
        .limit(20)
    )


@query(
    "q_evt_interarrival",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS prev_ts
      FROM events
    ),
    gaps AS (
      SELECT user_id,
             date_diff('second', prev_ts, ts) AS gap_s
      FROM ordered WHERE prev_ts IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           ROUND(AVG(gap_s), 6) AS mean_gap_s,
           ROUND(STDDEV_SAMP(gap_s) / AVG(gap_s), 6) AS burstiness
    FROM gaps
    GROUP BY user_id
    HAVING COUNT(*) >= 20
    ORDER BY burstiness DESC NULLS LAST, user_id ASC NULLS LAST
    LIMIT 25
    """,
)
def q_evt_interarrival(spark, sf_dir):
    """Inter-arrival-time profile per user — gap statistics plus the
    burstiness coefficient (cv = σ/μ of gaps: ≈1 for a Poisson
    process, ≫1 for bursty bots/sessions, ≈0 for schedulers) — the
    traffic-shape diagnostic that complements q_evt_islands (streak
    structure) and q_agg_entropy (hour concentration). Top-25 most
    bursty among users with ≥20 gaps.

    Cross-engine exactness: gaps are INTEGER seconds from the
    (ts, event_id)-tie-broken lag (epoch-math convention), so only
    the final mean/stddev ratio needs ROUND 6. Scale: one user-keyed
    window + aggregation sharing the same partitioning — Catalyst
    reuses one exchange; per-user state is constant."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        e.select(
            "user_id",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
            F.round(F.avg("gap_s"), 6).alias("mean_gap_s"),
            F.round(F.stddev_samp("gap_s") / F.avg("gap_s"), 6).alias(
                "burstiness"
            ),
        )
        .filter(F.col("n_gaps") >= 20)
        .orderBy(
            F.col("burstiness").desc_nulls_last(), F.col("user_id").asc_nulls_last()
        )
        .limit(25)
    )

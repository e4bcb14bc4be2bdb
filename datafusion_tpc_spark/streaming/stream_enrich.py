"""Stream-static enrichment + stream-stream LEFT OUTER interval join.
Split from streaming/stream_queries.py in round 6. Shared helpers
(the ts-unit-probing streaming source and the availableNow drain)
live in events_source.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.registry import query
from datafusion_tpc_spark.streaming.events_source import (
    _events_streaming,
    drain as _drain,
)


@query(
    "q_stream_enrich",
    oracle="""
    SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.user_id,
           e.event_type, e.value, c.c_name, c.c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_stream_enrich(spark, sf_dir):
    """Stream-static enrichment join: the click-stream × dimension
    pattern — every incoming event picks up its customer attributes
    from a static table. The static side is read per micro-batch
    (Spark re-plans it, so a dimension refresh is picked up at the
    next trigger) and broadcast: the stream side never shuffles, so
    enrichment adds zero exchange to the streaming plan and state is
    EMPTY — stateless operator, unlimited run length.

    STATELESS ⇒ deterministic: no watermark ever drops a row, so the
    availableNow drain emits exactly the batch join's rows and the
    query carries an EXACT oracle (r5 upgrade from rows-only — same
    reasoning as q_stream_sink/q_stream_pysource); values pass
    through unrounded since nothing is aggregated.
    tests/test_streaming.py additionally checks row-for-row
    equivalence against the batch join."""
    from datafusion_tpc_spark.catalog import load_table

    customers = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    ev = _events_streaming(spark, sf_dir)
    enriched = ev.join(
        F.broadcast(customers), ev.user_id == customers.c_custkey
    ).select(
        "event_id", "ts", "user_id", "event_type", "value", "c_name", "c_nationkey"
    )
    return _drain(enriched, spark, "stream_enrich")



@query("q_stream_join_outer")  # † rows-only: streaming run
def q_stream_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the state-eviction
    semantics the inner join (q_stream_join) never exercises: a click
    with NO purchase inside its 1-hour interval must still be
    emitted, with nulls, and that emission can only happen once the
    watermark passes the interval's end (before that, a matching
    purchase could still arrive). Outer interval joins are the one
    place Structured Streaming REQUIRES watermarks on both sides and
    a time-bound join condition — state is provably droppable, which
    is what bounds it for an unbounded run.

    Scale: state per side is (watermark + interval) × arrival rate,
    keyed by user — eviction is what makes a week-long run hold
    steady-state memory. Under availableNow the final watermark sweep
    emits the tail of unmatched clicks; rows ≥ the inner join's by
    exactly the unmatched-click count (pinned in
    tests/test_streaming.py against the batch anti-join)."""
    clicks = (
        _events_streaming(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_streaming(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
    return _drain(joined, spark, "stream_join_outer")

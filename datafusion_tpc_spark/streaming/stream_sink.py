"""Streaming file-sink surface — the write path of the streaming
extension (SURVEY §2.10/§7-M4; the reference has NO sink at all —
its object-store put is todo!(), reference
src/object_store/file.rs:215-228).

Scale notes: the parquet sink + checkpoint directory is the
production streaming pattern — exactly-once via the sink's
transaction log (_spark_metadata) and the checkpoint's WAL/offsets.
In a real deployment the checkpoint lives on durable shared storage
and the sink compacts small files downstream; availableNow triggers
give the same exactly-once semantics for batch-ish backfills.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import functions as F

from datafusion_tpc_spark.registry import query
from datafusion_tpc_spark.streaming.events_source import _events_streaming

_SINK_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".cache", "stream_sink"
)

# run dirs created by this process — excluded from pruning
_LIVE_RUNS: set[str] = set()


@query(
    "q_stream_sink",
    # CAST(ts AS TIMESTAMP) mirrors the µs truncation of the Spark
    # sink schema — keeps the oracle unit-agnostic if a testdata drop
    # reverts events.ts to timestamp[ns] (ADVICE r4, FIXTURES.md §9).
    oracle="""
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def q_stream_sink(spark, sf_dir):
    """Checkpointed streaming parquet sink: readStream → filter →
    writeStream(parquet, checkpointLocation) with an availableNow
    trigger, then read the sink directory back. Stateless filter →
    the sink holds exactly the batch-filter rows, so the oracle is
    EXACT (the only exactly-oracled streaming query — everything
    else is watermark-dependent †).

    Each call writes a fresh sink+checkpoint pair (uuid dir), which
    is the correctness-under-retry story: a re-run with the SAME
    checkpoint would be a no-op (offsets already committed) — that
    idempotence is pinned in tests/test_streaming.py."""
    ev = (
        _events_streaming(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    # Prune prior runs' uuid dirs so repeated driver/bench/pytest
    # invocations don't accumulate sink+checkpoint dirs without bound
    # (ADVICE r4), but never a dir created by THIS process — a
    # lazily-returned DataFrame from an earlier call still reads its
    # sink dir at collect time. Fresh-checkpoint-per-run kept.
    if os.path.isdir(_SINK_CACHE):
        for stale in os.listdir(_SINK_CACHE):
            if stale not in _LIVE_RUNS:
                shutil.rmtree(os.path.join(_SINK_CACHE, stale), ignore_errors=True)
    run_name = uuid.uuid4().hex[:12]
    _LIVE_RUNS.add(run_name)
    root = os.path.join(_SINK_CACHE, run_name)
    data_dir = os.path.join(root, "data")
    q = (
        ev.writeStream.outputMode("append")
        .format("parquet")
        .option("path", data_dir)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(data_dir)

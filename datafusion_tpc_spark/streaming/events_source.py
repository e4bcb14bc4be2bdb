"""Streaming events source — the ts-unit-probing readStream and the
availableNow drain shared by the streaming query modules. It registers
no queries.

The footer probe is the round-4 fix for the recurring testdata quirk:
events.ts has shipped as BOTH int64-ns and timestamp[µs] across driver
drops (FIXTURES.md §9). Streaming sources require an explicit schema,
so the probe must run BEFORE the read.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_tpc_spark.session import configure_runtime

_EVENT_SCHEMA_TS = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
_EVENT_SCHEMA_NS = "event_id long, ts long, user_id long, event_type string, value double, props string"


def _events_ts_is_ns_long(sf_dir: str) -> bool:
    """Probe the events.parquet footer for the physical ts type —
    the streaming twin of catalog.load_table's dtype probe
    (catalog.py:53). int64 means ns-epoch data (read as long,
    integer-DIV to µs); a real timestamp type means the file already
    stores µs and must be read as timestamp — applying the DIV path
    to µs data compresses the time range 1000× and silently breaks
    every watermark."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    return pat.is_integer(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type)


def _events_streaming(spark, sf_dir):
    configure_runtime(spark)
    ns_long = _events_ts_is_ns_long(sf_dir)
    src = (
        spark.readStream.schema(_EVENT_SCHEMA_NS if ns_long else _EVENT_SCHEMA_TS)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )
    if ns_long:
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return src


def drain(df, spark, name_prefix: str):
    """Run a streaming DataFrame to completion into a memory sink and
    return the materialized result (availableNow trigger). Lives here
    (registration-free module) so split streaming query modules can
    share it without coupling registration order (r6)."""
    import uuid

    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)

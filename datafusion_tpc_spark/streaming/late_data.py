"""Watermark late-data accounting (round 7) — the first EXACT-oracled
watermark-drop query: a deterministic 5-micro-batch replay of the
events table in which a known subset of rows arrives two time-slices
late, far past the watermark, and is provably dropped by the streaming
aggregation. The memory-sink result (final per-window counts) must
hash-match a DuckDB oracle that predicts the drop set analytically.

Why this is normally impossible to oracle: watermark drops depend on
micro-batch BOUNDARIES, which the file source derives from file
listing order. The derived fixture pins them: events are re-written
as 5 parquet files (one per time slice, mtimes strictly ascending so
FileStreamSource's (modificationTime, path) ordering is total), and
`maxFilesPerTrigger=1` + `Trigger.AvailableNow` (which honors read
limits since Spark 3.3) makes file i exactly micro-batch i.

The lateness is THREE slices, not two, because of Spark's two-value
watermark (SPARK-24634): batch j EVICTS state with the watermark
derived from batch j−1's data, but FILTERS late input with the
PREVIOUS one — derived from batch j−2. (Measured here first: with
2-slice lateness the late rows straddled the filter watermark, ~4
window-groups dropped and the rest silently re-created evicted state,
inflating counts by exactly the late subset.)

Margin analysis (why no row is boundary-ambiguous): slice width ws,
window wsec = ws/8, delay = ws/2. The late-row FILTER watermark of
batch j is max-event-time(files ≤ j−2) − delay ≥ slice_end(j−2) −
ws/2. A late row (from slice j−3, replayed in file j) has window_end
≤ slice_end(j−3) + wsec = slice_end(j−2) − ws + wsec → at least
ws/2 − wsec = 3ws/8 BELOW the filter watermark — dropped regardless
of whether the predicate is < or ≤. A fresh row of batch j has
ts ≥ slice_start(j) > filter-watermark + ws/2 — kept by the same
margin. All arithmetic is integer seconds on both engines.

Output mode is UPDATE (append would never emit the last slices'
windows — the watermark dies before passing them); the sink then
holds every (window, running-count) update, and the final count per
window is the MAX (counts only grow). numRowsDroppedByWatermark is
pinned in tests/test_streaming_late.py against the analytic drop
count.

100 TB design: the replay fixture is a test harness, but the QUERY is
the production shape — watermarked tumbling-window counts in update
mode with O(live windows) state; drop accounting in production reads
numRowsDroppedByWatermark from query progress, which the pytest
asserts equals the oracle's analytic count here.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import (
    READY,
    load_table,
    materialize,
    source_fingerprint,
)
from datafusion_tpc_spark.functions.digest import _h60_duck, h60
from datafusion_tpc_spark.registry import query
from datafusion_tpc_spark.session import configure_runtime

_SLICES = 5
_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
    ".cache",
    "late_events",
)


def _fixture_dir(spark, sf_dir: str) -> str:
    """Ensure the 5-file late-replay copy of events exists; returns its
    path. File j = fresh rows of slice j + the late subset of slice
    j−3 (h60 % 10 == 0). Keyed by the source fingerprint; mtimes
    ascend so listing order is batch order. Built through
    catalog.materialize (review r7 — the first cut built into a FIXED
    `path + ".build"` dir, so two concurrent cold-start executions
    interleaved writes and could publish a _READY dir missing slice
    files); the slice grid is written into the _READY marker."""
    src = os.path.join(sf_dir, "events.parquet")
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp = hashlib.md5(source_fingerprint(src).encode()).hexdigest()[:12]
    return materialize(
        _CACHE_ROOT,
        f"{sf_tag}-{fp}",
        lambda tmp: _build_fixture(spark, sf_dir, os.stat(src).st_mtime, tmp),
    )


def _build_fixture(spark, sf_dir: str, mtime: float, tmp: str) -> None:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        # this drop ships ts as TIMESTAMP_NTZ; normalize to TIMESTAMP
        # (session tz is UTC via configure_runtime) so unix_micros and
        # the streaming read schema agree
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    lo, hi = (
        e.agg(
            F.min(F.expr("unix_micros(ts) DIV 1000000")),
            F.max(F.expr("unix_micros(ts) DIV 1000000")),
        ).first()
    )  # bounded driver scalars: the slice grid (metadata)
    ws = (hi - lo + _SLICES) // _SLICES
    tagged = e.select(
        "*",
        F.least(
            F.expr(f"(unix_micros(ts) DIV 1000000 - {lo}) DIV {ws}"),
            F.lit(_SLICES - 1).cast("bigint"),
        )
        .cast("int")
        .alias("slice"),
        (h60(F.concat(F.lit("late:"), F.col("event_id").cast("string"))) % 10 == 0)
        .alias("late"),
    )
    import glob as _glob

    for j in range(_SLICES):
        part = tagged.filter(
            ((F.col("slice") == j) & (~F.col("late") | (F.col("slice") > 1)))
            | ((F.col("slice") == j - 3) & F.col("late") & (F.col("slice") <= 1))
        ).drop("slice", "late")
        stage = os.path.join(tmp, f"stage{j}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        src = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(tmp, f"{j:02d}.parquet")
        shutil.move(src, dst)
        shutil.rmtree(stage, ignore_errors=True)
        os.utime(dst, (mtime + j + 1, mtime + j + 1))
    with open(os.path.join(tmp, READY), "w") as f:
        f.write(f"lo={lo} hi={hi} ws={ws}\n")


def run_late_stream(spark, sf_dir: str):
    """Run the watermarked windowed count over the 5-batch replay;
    returns (updates_df, progresses). Shared by the query and the
    numRowsDroppedByWatermark pytest."""
    import uuid

    configure_runtime(spark)
    path = _fixture_dir(spark, sf_dir)
    with open(os.path.join(path, READY)) as f:
        meta = dict(kv.split("=") for kv in f.read().split())
    ws = int(meta["ws"])
    wsec = max(ws // 8, 1)
    delay = ws // 2
    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = (
        src.withWatermark("ts", f"{delay} seconds")
        .groupBy(F.window("ts", f"{wsec} seconds").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"stream_late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = list(q.recentProgress)
    finally:
        q.stop()
    return spark.table(name), progresses


@query(
    "q_stream_late",
    oracle=f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) // 1000000 AS ts_s FROM events
    ),
    b AS (SELECT MIN(ts_s) AS lo, MAX(ts_s) AS hi FROM e),
    g AS (SELECT lo, (hi - lo + {_SLICES}) // {_SLICES} AS ws,
                 GREATEST(((hi - lo + {_SLICES}) // {_SLICES}) // 8, 1) AS wsec
          FROM b),
    tagged AS (
      SELECT e.ts_s, g.wsec,
             LEAST((e.ts_s - g.lo) // g.ws, {_SLICES - 1}) AS slice,
             {_h60_duck("concat('late:', CAST(event_id AS VARCHAR))")} % 10 = 0
               AS late
      FROM e, g
    )
    SELECT make_timestamp((ts_s // wsec) * wsec * 1000000) AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM tagged
    WHERE NOT (late AND slice <= 1)
    GROUP BY 1, wsec
    ORDER BY win_start ASC NULLS LAST
    """,
)
def q_stream_late(spark, sf_dir):
    """Final per-window counts of the watermarked 5-batch replay —
    every late-replayed row (slice ≤ 1, h60 % 10 == 0) lands ≥ 3ws/8
    past the late-filter watermark and is dropped; the oracle predicts
    exactly the fresh-row histogram. See module docstring for the
    batch-pinning, the SPARK-24634 two-watermark subtlety, and the
    margin analysis."""
    updates, _ = run_late_stream(spark, sf_dir)
    return (
        updates.groupBy(F.col("win.start").alias("win_start"))
        .agg(F.max("n").cast("bigint").alias("n"))
        .orderBy(F.col("win_start").asc_nulls_last())
    )

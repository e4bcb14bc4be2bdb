"""Streaming quantile sketch (r6) — the Structured-Streaming twin of
the batch t-digest (queries/stats_ext.py::q_agg_tdigest): per
event-type centroid state maintained across micro-batches with
applyInPandasWithState, quantiles read off the cumulative-weight
curve at every trigger. The centroid compressor is a 15-line
reimplementation of stats_ext's.

Rows-only (†): centroid boundaries depend on batch splits;
tests/test_streaming.py pins the final estimates' rank error against
the exact per-type percentiles.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from datafusion_tpc_spark.registry import query
from datafusion_tpc_spark.streaming.events_source import _events_streaming

_CENTROIDS = 64
_QS = (0.5, 0.9)


def _compress(means, weights):
    """Re-compress a sorted centroid list to ≤_CENTROIDS by
    cumulative-weight buckets, preserving total weight and weighted
    means exactly (the q_agg_tdigest merge rule)."""
    total = int(sum(weights))
    target = max(1, total // _CENTROIDS)
    out_m, out_w = [], []
    acc_w, acc_s = 0, 0.0
    for m, w in zip(means, weights):
        acc_w += int(w)
        acc_s += m * w
        if acc_w >= target:
            out_m.append(acc_s / acc_w)
            out_w.append(acc_w)
            acc_w, acc_s = 0, 0.0
    if acc_w:
        out_m.append(acc_s / acc_w)
        out_w.append(acc_w)
    return out_m, out_w


def _quantile(means, weights, q):
    """Cumulative-midpoint interpolation over centroids."""
    total = sum(weights)
    rank = q * total
    cum = 0.0
    lo = None
    for m, w in zip(means, weights):
        mid = cum + w / 2.0
        if mid >= rank:
            if lo is None:
                return m
            lm, lmid = lo
            frac = (rank - lmid) / (mid - lmid) if mid > lmid else 0.0
            return lm + frac * (m - lm)
        lo = (m, mid)
        cum += w
    return means[-1] if means else float("nan")


@query("q_stream_quantile")  # † rows-only: streaming sketch
def q_stream_quantile(spark, sf_dir):
    """Continuous quantile tracking per event type: every micro-batch
    folds its values into a bounded centroid state (sort batch →
    equal-weight chunks → merge with carried centroids → re-compress
    to ≤64), and the current p50/p90 estimates are emitted per
    trigger — the metrics-pipeline latency-percentile pattern, with
    provably O(centroids) state per key for an unbounded run.

    This is the streaming half of the t-digest story: q_agg_tdigest
    proves the partial/merge algebra in batch; this proves the same
    state is maintainable incrementally under Spark's state store
    (update mode, no timeout — the sketch never expires). The sink
    may hold one emission per trigger per key; the final read keeps
    the max-n version per key (monotone row count, the
    q_stream_stateful convention).

    Scale: state shards by event_type across executors; each trigger
    touches only arrived rows + 64 centroids per key. A key-skewed
    stream shards further by salting the state key and merging the
    salted sketches at read (associative merge — the batch query's
    merge step verbatim)."""
    import pandas as pd

    ev = _events_streaming(spark, sf_dir).select("event_type", "value")
    out_schema = (
        "event_type string, n_rows long, p50 double, p90 double"
    )
    state_schema = "means array<double>, weights array<long>, n long"

    def track(key, pdfs, state: GroupState):
        if state.exists:
            means, weights, n = state.get
            means, weights = list(means), list(weights)
            n = int(n)
        else:
            means, weights, n = [], [], 0
        vals = []
        for pdf in pdfs:
            vals.append(pdf["value"])
        if vals:
            v = pd.concat(vals).dropna().sort_values().to_numpy()
            n += len(v)
            if len(v):
                chunks = min(_CENTROIDS, len(v))
                idx = [round(i * len(v) / chunks) for i in range(chunks + 1)]
                for a, b in zip(idx[:-1], idx[1:]):
                    if b > a:
                        means.append(float(v[a:b].mean()))
                        weights.append(int(b - a))
                pairs = sorted(zip(means, weights))
                means, weights = _compress(
                    [p[0] for p in pairs], [p[1] for p in pairs]
                )
        state.update((means, weights, n))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_rows": [n],
                "p50": [float(_quantile(means, weights, 0.5))],
                "p90": [float(_quantile(means, weights, 0.9))],
            }
        )

    result = ev.groupBy("event_type").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    import uuid

    name = f"stream_quantile_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sink = spark.table(name)
    return sink.groupBy("event_type").agg(
        F.max("n_rows").alias("n_rows"),
        F.max_by("p50", "n_rows").alias("p50"),
        F.max_by("p90", "n_rows").alias("p90"),
    )

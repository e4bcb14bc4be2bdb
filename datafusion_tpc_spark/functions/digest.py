"""Deterministic cross-engine digest family (moved from
operators/dedup.py in round 5 so query modules can share it without
importing dedup).

h60 is the determinism backbone of the dedup/sampling/packing layer:
every pseudo-random decision (MinHash permutations, sampling buckets,
pack shards, sign-LSH projections) derives from md5 so Spark and the
DuckDB oracle agree bit-for-bit (SURVEY §7/M5, driver seed=42
convention).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def h60(col):
    """Deterministic 60-bit hash shared with DuckDB: first 15 hex chars
    of md5 as integer."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _h60_duck(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# Train/val/test split convention — SINGLE source of truth shared by
# the split itself (operators/pipeline.py q_pipe_split/q_pipe_kept)
# and its auditors (operators/dedup.py q_dedup_decontam). Hoisted here
# (registration-free module) so neither side duplicates the thresholds:
# a convention change desynchronizing the decontamination audit from
# the split it audits would be silent (review r11).
SPLIT_TRAIN_LT = 90  # h60(doc_id) % 100 < 90  → train
SPLIT_VAL_LT = 95    # < 95 → val; else test


def split_bucket():
    """Spark column: the doc's 0-99 split bucket (pure function of
    doc_id — stable across reruns, rescale, and repartitioning)."""
    return h60(F.col("doc_id").cast("string")) % 100


def split_bucket_duck(col: str = "doc_id") -> str:
    """DuckDB twin of split_bucket(); ``col`` may be qualified."""
    return f"({_h60_duck(f'CAST({col} AS VARCHAR)')} % 100)"


def cosine(a, b):
    """Cosine similarity of two array<double> columns — sequential
    left-fold on both engines, bit-stable across Spark and DuckDB.
    (Moved from operators/dedup.py in round 7 so similarity/retrieval
    can import it without dragging dedup's query registrations into
    the driver window.)"""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)

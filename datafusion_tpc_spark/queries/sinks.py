"""Batch write-path surface (r5) — the reference has NO write path:
its object-store put/multipart are `todo!()` (reference
src/object_store/file.rs:215-228,303-309). This module exercises ours
end-to-end where it is most demanding: a DISTRIBUTED writer for a
format Spark itself cannot write in this container (Avro, no
spark-avro jar) through the Spark 4 Python DataSource writer API —
the batch twin of the streaming sinks (stream_sink.py, py_sink.py).

Registered after the round-5 driver window; birth rounds pinned in
tests/test_registry_order.py.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import (
    load_table,
    materialize,
    run_dir,
    source_fingerprint,
)
from datafusion_tpc_spark.registry import query

_SINK_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".cache", "avro_sink"
)

# run dirs of this process's in-flight calls (catalog.run_dir)
_LIVE_RUNS: set[str] = set()


@query(
    "q_sink_avro",
    oracle="""
    SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_sink_avro(spark, sf_dir):
    """Avro round trip through the distributed Python writer: write
    `documents` as a directory of part-*.avro files (one per task —
    executor-side OCF block encoding, driver-side _SUCCESS commit,
    sources/avro_py.py PyAvroWriter) and read it back through the
    jar-less block-split reader. Exact oracle = the source table: the
    round trip must be lossless, which pins the whole encode path
    (zigzag varints, deflate blocks, nullable unions) against the
    decode path AND against DuckDB's view of the original parquet.

    Scale: write is one task per input partition, no driver data
    path; read re-splits per block. Commit protocol is the py_sink
    manifest shape: parts become visible only at driver commit."""
    from datafusion_tpc_spark.sources.avro_py import register

    register(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # run_dir's age gate protects the returned lazy read
    with run_dir(_SINK_CACHE, _LIVE_RUNS) as out:
        docs.write.format("pyavro").mode("overwrite").option("path", out).save()
        return spark.read.format("pyavro").load(out)


_CORRUPT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
    ".cache",
    "corrupt_json",
)
_CORRUPT_FILE = os.path.join(_CORRUPT_DIR, "data.json")

# Deterministic malformed-feed fixture: 9 parseable NDJSON records
# interleaved with 3 structurally-broken lines (the real shape of a
# scraped/streamed feed). Written once; content is a literal.
_CORRUPT_LINES = [
    '{"id": 1, "v": 10.5}',
    '{"id": 2, "v": 20.25}',
    '{"id": 3, "v": -1.5}',
    '{"id": 4 "v": 4.0}',          # missing comma
    '{"id": 5, "v": 5.5}',
    "not json at all",              # plain garbage
    '{"id": 6, "v": 6.75}',
    '{"id": 7, "v": 0.0}',
    '{"id": 8, "v": 8.125',         # truncated object
    '{"id": 9, "v": 9.5}',
    '{"id": 10, "v": 100.0}',
    '{"id": 11, "v": 11.0}',
]


def _ensure_corrupt_fixture() -> str:
    if not os.path.exists(_CORRUPT_FILE):
        os.makedirs(_CORRUPT_DIR, exist_ok=True)
        with open(_CORRUPT_FILE, "w") as f:
            f.write("\n".join(_CORRUPT_LINES) + "\n")
    return _CORRUPT_FILE


@query(
    "q_scan_corrupt",
    oracle=f"""
    WITH good AS (
      -- ignore_errors=true NULL-fills unparseable lines rather than
      -- dropping them; every parseable fixture record carries an id,
      -- so id IS NOT NULL is the parsed-successfully predicate
      SELECT * FROM read_json('{_CORRUPT_FILE}',
                              columns={{'id': 'BIGINT', 'v': 'DOUBLE'}},
                              format='newline_delimited',
                              ignore_errors=true)
      WHERE id IS NOT NULL
    ),
    raw AS (
      SELECT COUNT(*) AS total
      FROM read_csv('{_CORRUPT_FILE}', delim=chr(7), header=false,
                    columns={{'line': 'VARCHAR'}})
    )
    SELECT CAST((SELECT COUNT(*) FROM good) AS BIGINT) AS n_good,
           CAST(raw.total - (SELECT COUNT(*) FROM good) AS BIGINT) AS n_corrupt,
           ROUND((SELECT SUM(v) FROM good), 6) AS sum_v
    FROM raw
    """,
)
def q_scan_corrupt(spark, sf_dir):
    """Malformed-record ingestion — PERMISSIVE JSON parsing with a
    corrupt-record column, the robustness mode every scraped-feed
    pipeline runs in (vs FAILFAST, which kills a 100 TB job on one
    bad line). Returns (n_good, n_corrupt, sum of a good-row field);
    the oracle recomputes them via DuckDB's ignore_errors read plus a
    raw line count, so the two engines must agree on exactly WHICH
    lines are unparseable.

    Spark gotcha demonstrated on purpose: a filter referencing ONLY
    the corrupt-record column is rejected unless the parsed frame is
    cached first (the parser prunes the corrupt column otherwise) —
    the .cache() here is that documented workaround, and it is tiny
    (the fixture), not a data-scale cache.

    Scale: PERMISSIVE parsing is per-row and parallel; the corrupt
    branch costs nothing on clean data."""
    path = _ensure_corrupt_fixture()
    df = (
        spark.read.schema("id bigint, v double, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
        .cache()
    )
    good = df.filter(F.col("_bad").isNull())
    return good.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_good"),
    ).join(
        df.filter(F.col("_bad").isNotNull()).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_corrupt")
        )
    ).join(good.agg(F.round(F.sum("v"), 6).alias("sum_v")))


@query(
    "q_scan_meta",
    oracle="""
    SELECT 'customer.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(c_custkey) AS BIGINT) AS k_min,
           CAST(MAX(c_custkey) AS BIGINT) AS k_max
    FROM customer
    UNION ALL
    SELECT 'orders.parquet',
           CAST(COUNT(*) AS BIGINT),
           CAST(MIN(o_orderkey) AS BIGINT),
           CAST(MAX(o_orderkey) AS BIGINT)
    FROM orders
    """,
)
def q_scan_meta(spark, sf_dir):
    """Hidden file-metadata columns (Spark's `_metadata` struct on
    file sources — the lineage/debugging surface DataFusion exposes as
    its `file` listing, reference src/object_store/file.rs list path):
    per-file row counts and key ranges computed by grouping on
    `_metadata.file_name` alongside ordinary data columns. The oracle
    pins the file names literally (one parquet per table in this
    fixture), proving the hidden column carries real scan lineage.
    100 TB: `_metadata` is populated per split at scan time — zero
    extra IO — and grouping by file is the standard recipe for
    per-file audit/quarantine reports."""
    from datafusion_tpc_spark.session import configure_runtime

    configure_runtime(spark)
    out = None
    for tbl, key in (("customer", "c_custkey"), ("orders", "o_orderkey")):
        df = (
            spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
            .select(F.col("_metadata.file_name").alias("file_name"), F.col(key))
            .groupBy("file_name")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.min(key).cast("bigint").alias("k_min"),
                F.max(key).cast("bigint").alias("k_max"),
            )
        )
        out = df if out is None else out.unionAll(df)
    return out


_EVOLVE_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".cache",
    "evolve",
)


def _evolve_dirs(spark, sf_dir):
    """Two parquet snapshot dirs with DRIFTED schemas (v2 adds a
    column), built once per customer source fingerprint (testdata
    drops replace files at the same path — review r5): the read-side
    half of schema evolution — q_union_evo covers the DataFrame-level
    union, this exercises Spark's parquet mergeSchema file-level
    merge."""
    st = source_fingerprint(os.path.join(sf_dir, "customer.parquet"))
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp = hashlib.md5(f"{sf_dir}:{st}".encode()).hexdigest()[:12]

    def build(tmp: str) -> None:
        cust = load_table(spark, sf_dir, "customer")
        cust.filter(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", "c_name", "c_mktsegment"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "v1"))
        cust.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "v2"))

    # prune_legacy: the pre-prefix keys were a bare md5
    return materialize(_EVOLVE_CACHE, f"{sf_tag}-{fp}", build, prune_legacy=True)


@query(
    "q_scan_evolve",
    oracle="""
    WITH merged AS (
      SELECT c_custkey, c_mktsegment, CAST(NULL AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_custkey % 2 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 2 = 1
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(c_acctbal) AS BIGINT) AS n_with_bal,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM merged
    GROUP BY c_mktsegment
    """,
)
def q_scan_evolve(spark, sf_dir):
    """Schema evolution at the SCAN (parquet mergeSchema): two
    snapshot directories whose footers disagree — v2 added c_acctbal
    — read as ONE table; old files surface the missing column as
    NULL. The aggregate proves both the merged shape (per-segment
    rows split across snapshots) and the null-padding (n_with_bal
    counts only v2 rows). The oracle reconstructs the same merge as
    an explicit NULL-padded UNION ALL on the source table.

    100 TB: mergeSchema costs one footer read per FILE at planning —
    fine per query on a few snapshots; at many-thousand-file scale
    the schema belongs in a catalog/manifest (the layout.py manifest
    pattern) rather than re-merged per read."""
    root = _evolve_dirs(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("c_acctbal").cast("bigint").alias("n_with_bal"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )

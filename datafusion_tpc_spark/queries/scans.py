"""Scans / sources — SURVEY.md §2.1.

Reference Tier A surface: Parquet directory scan with footer schema +
row-group pruning (reference benches/query.rs:35-40, src/main.rs:45),
plus the Tier-B DataFusion sources (CSV scan, VALUES/MemoryExec).

Spark mapping: ``spark.read.parquet`` is the vectorized reader with
filter pushdown + row-group stats pruning on by default — the direct
equivalent of ``parquet_pruning(true)``. The io_uring object store the
reference uses underneath (src/object_store/file.rs) is Tier C: Spark's
reader + Hadoop FS already do coalesced range reads.

Scale notes: both scan queries push projection into the Parquet scan
(check ``ReadSchema`` in .explain); the filter query pushes the string
equality predicate to row-group level (``PushedFilters``). At 100 TB a
full-scan SELECT * is IO-bound and embarrassingly parallel — one task
per input split, no shuffle anywhere in these plans.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from datafusion_tpc_spark.catalog import load_table, materialize, source_fingerprint
from datafusion_tpc_spark.registry import query

_CSV_CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".cache", "csv")


def _round_trip(spark, sf_dir, table: str, name: str, write) -> str:
    """Directory of the format round-trip copy ``name`` of ``table``:
    ``write(df, dir)`` runs once per (sf_dir, source fingerprint)
    through catalog.materialize, so a testdata drop re-keys it and
    concurrent callers never read a half-written copy."""
    sf_key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    src = os.path.join(sf_dir, f"{table}.parquet")
    fp = hashlib.md5(source_fingerprint(src).encode()).hexdigest()[:12]
    return materialize(
        _CSV_CACHE,
        f"{sf_key}_{name}-{fp}",
        lambda tmp: write(load_table(spark, sf_dir, table), tmp),
        prune_legacy=True,  # the path-only `<sf_key>/<name>` layout
    )


@query("q_scan_full", oracle="SELECT * FROM lineitem")
def q_scan_full(spark, sf_dir):
    """Full scan — reference `full_scan` bench: SELECT * FROM logs
    (benches/query.rs:24), rebased onto lineitem."""
    return load_table(spark, sf_dir, "lineitem")


@query(
    "q_filter_proj",
    oracle="""
    SELECT l_orderkey, l_partkey
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def q_filter_proj(spark, sf_dir):
    """Projection + string-equality predicate — reference `filter`
    bench: SELECT service, pod FROM logs WHERE request_method='DELETE'
    (benches/query.rs:25). Projection and predicate both push into the
    Parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_partkey")


@query("q_scan_csv", oracle="SELECT * FROM nation")
def q_scan_csv(spark, sf_dir):
    """CSV scan — DataFusion 19 CsvExec (Tier B, reference
    Cargo.toml:15). Round-trips `nation` through CSV with an explicit
    schema (no inference — schema inference is a full extra scan at
    scale), so the oracle is the parquet table itself."""
    out_dir = _round_trip(
        spark,
        sf_dir,
        "nation",
        "nation",
        lambda df, d: df.coalesce(1).write.mode("overwrite").option(
            "header", "true"
        ).csv(d),
    )
    return spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "header", "true"
    ).csv(out_dir)


@query("q_scan_json", oracle="SELECT * FROM region")
def q_scan_json(spark, sf_dir):
    """NDJSON scan — DataFusion 19 NdJsonExec (Tier B, reference
    Cargo.toml:15). Round-trips `region` through newline-delimited
    JSON with an explicit schema."""
    out_dir = _round_trip(
        spark,
        sf_dir,
        "region",
        "region_json",
        lambda df, d: df.coalesce(1).write.mode("overwrite").json(d),
    )
    return spark.read.schema("r_regionkey int, r_name string").json(out_dir)


@query(
    "q_values",
    oracle="""
    SELECT id, name, CAST(score AS DOUBLE) AS score
    FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', NULL))
      AS t(id, name, score)
    """,
)
def q_values(spark, sf_dir):
    """In-memory literal rows — DataFusion `VALUES` / MemoryExec
    (Tier B, reference Cargo.toml:15). Spark: SQL VALUES → LocalRelation
    (driver-side literal, no scan at all)."""
    return spark.sql(
        """
        SELECT id, name, CAST(score AS DOUBLE) AS score
        FROM VALUES (1, 'alpha', 1.5D), (2, 'beta', 2.5D), (3, 'gamma', CAST(NULL AS DOUBLE))
          AS t(id, name, score)
        """
    )


# Avro scan — DataFusion 19 AvroExec (Tier B, reference Cargo.toml:15,
# SURVEY §2.1 "CSV / NDJSON / Avro"). spark-avro is an external Scala
# module whose jar is absent here and unfetchable (no network), so the
# scan runs through sources/avro_py.py: a pure-Python implementation of
# the public Avro Object Container File spec exposed via Spark 4's
# Python DataSource API, with one InputPartition per Avro block (sync-
# marker splits — the same splittability story as spark-avro itself).
# When a spark-avro jar IS present, connectors.read_any prefers it.


@query("q_scan_avro", oracle="SELECT * FROM nation")
def q_scan_avro(spark, sf_dir):
    """Avro round-trip scan: write `nation` to a multi-block deflate
    Avro container once (pure-Python writer — deterministic sync
    marker), read it back distributed through the `pyavro` Python
    DataSource; oracle is the parquet table the bytes came from."""
    from datafusion_tpc_spark.sources import avro_py

    schema = {
        "type": "record",
        "name": "nation",
        "fields": [
            {"name": "n_nationkey", "type": "int"},
            {"name": "n_name", "type": "string"},
            {"name": "n_regionkey", "type": "int"},
        ],
    }
    out_dir = _round_trip(
        spark,
        sf_dir,
        "nation",
        "nation_avro",
        lambda df, d: avro_py.write_avro(
            os.path.join(d, "nation.avro"),
            schema,
            [r.asDict() for r in df.collect()],
            rows_per_block=8,
        ),
    )
    avro_py.register(spark)
    return spark.read.format("pyavro").load(os.path.join(out_dir, "nation.avro"))


def _orders_part(spark, sf_dir):
    """`orders` round-tripped through a hive-style directory layout
    partitioned on o_orderstatus (shared by q_scan_partitioned and
    q_scan_dpp)."""
    from datafusion_tpc_spark.sources.connectors import write_partitioned

    return _round_trip(
        spark,
        sf_dir,
        "orders",
        "orders_part",
        lambda df, d: write_partitioned(
            df.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
            d,
            partition_by=["o_orderstatus"],
        ),
    )


@query(
    "q_scan_partitioned",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def q_scan_partitioned(spark, sf_dir):
    """Partition-pruned scan: round-trip `orders` through a hive-style
    directory layout partitioned on the low-cardinality o_orderstatus
    (sources/connectors.write_partitioned), then read back with a
    partition-key predicate. Catalyst turns the predicate into a
    PartitionFilter — pruned directories are never listed, let alone
    read (tests/test_plans.py asserts the plan). At 100 TB this is THE
    first-order scan optimization: a day-partitioned table answers a
    one-day query by touching 1/365th of the bytes. Oracle is the
    unpartitioned parquet with the same predicate."""
    return (
        spark.read.parquet(_orders_part(spark, sf_dir))
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )


@query("q_scan_orc", oracle="SELECT * FROM supplier")
def q_scan_orc(spark, sf_dir):
    """ORC scan — Spark's second native columnar format (vectorized
    reader, predicate pushdown, same split-per-stripe parallelism
    story as Parquet). Round-trips `supplier` once; oracle is the
    parquet table the bytes came from."""
    out_dir = _round_trip(
        spark,
        sf_dir,
        "supplier",
        "supplier_orc",
        lambda df, d: df.coalesce(1).write.mode("overwrite").orc(d),
    )
    return spark.read.orc(out_dir)


@query(
    "q_scan_xml",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type,
           p_size, ROUND(p_retailprice, 2) AS p_retailprice
    FROM part
    """,
)
def q_scan_xml(spark, sf_dir):
    """XML scan — Spark 4's native XML source (the spark-xml package
    merged upstream in 4.0). Round-trips `part` through row-tagged XML
    with an explicit schema (inference would cost a full extra scan),
    oracle is the parquet table the bytes came from. retailprice is
    rounded on both sides: XML serializes doubles as decimal text, and
    round-tripping through text is only bit-stable to the printed
    precision."""
    out_dir = _round_trip(
        spark,
        sf_dir,
        "part",
        "part_xml",
        lambda df, d: df.withColumn("p_retailprice", F.round("p_retailprice", 2))
        .coalesce(1)
        .write.mode("overwrite")
        .option("rootTag", "parts")
        .option("rowTag", "part")
        .format("xml")
        .save(d),
    )
    return (
        spark.read.schema(
            "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double"
        )
        .option("rowTag", "part")
        .format("xml")
        .load(out_dir)
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            F.round("p_retailprice", 2).alias("p_retailprice"),
        )
    )


@query(
    "q_scan_dpp",
    oracle="""
    SELECT o_orderkey, o_orderstatus, 'final' AS label
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def q_scan_dpp(spark, sf_dir):
    """Dynamic partition pruning: the partitioned fact is joined to a
    dimension whose FILTER (label = 'final') only reveals the
    interesting partition keys at runtime — Catalyst injects a
    dynamicpruning subquery that evaluates the broadcast dim first
    and prunes fact partitions before they are listed
    (tests/test_plans.py asserts the plan). This is the second half
    of the q_scan_partitioned story: static partition pruning handles
    literal predicates; DPP handles predicates that only exist after
    a join — at 100 TB it is the difference between scanning one
    day's partitions and scanning the year because the date filter
    lived on the calendar dim."""
    part = spark.read.parquet(_orders_part(spark, sf_dir))
    # createDataFrame ON PURPOSE (r13): converting this dim to a
    # VALUES LocalRelation kills the DPP demonstration — Catalyst
    # constant-folds the filter INTO the LocalRelation rows, leaving
    # no selective predicate on the dim side, and PartitionPruning
    # then declines to inject the dynamicpruning subquery
    # (test_dpp_subquery_is_injected caught it). The RDD-backed dim
    # keeps the Filter node visible; its ~0.2 s literal overhead is
    # the cost of demonstrating the real mechanism.
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")], "status string, label string"
    ).filter(F.col("label") == "final")
    return part.join(F.broadcast(dim), part.o_orderstatus == dim.status).select(
        "o_orderkey", "o_orderstatus", "label"
    )

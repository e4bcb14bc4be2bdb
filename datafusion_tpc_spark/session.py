"""SparkSession bootstrap.

Mirrors the reference's session setup (SessionConfig with
``target_partitions(6)`` at reference src/main.rs:41 and
``parquet_pruning(true)`` at benches/query.rs:38) re-expressed as
Spark conf. Parquet filter pushdown / row-group pruning are Spark
defaults; parallelism is ``spark.sql.shuffle.partitions``.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing + skew-join splitting replace any static
  partition planning we could do at submit time.
- shuffle.partitions defaults to the local core count here, but on a
  real cluster AQE's ``advisoryPartitionSizeInBytes`` governs the
  effective fan-out — we set an advisory size instead of hand-picking
  partition counts per query.
- Arrow enabled so the (rare) Pandas-UDF paths are batch-vectorized.
- ``spark.buffer.pageSize`` is a fixed 4 MiB: a task's Tungsten memory
  grows one page at a time as its data needs it, the way each of the
  reference's per-core workers holds only its current morsel. Spark's
  default (execution memory / cores / 16, capped at 64 MiB) made every
  sorting, aggregating or broadcast-probing task take a 64 MiB page,
  even over a few hundred KB. A task's page table holds 8,192 pages,
  so 4 MiB pages still let one task address 32 GiB: a large sort at
  100 TB grows page by page and spills past its share.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "datafusion_tpc_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
) -> SparkSession:
    """Build (or fetch) the engine SparkSession for local runs.

    The driver harness passes us its own session; this builder exists
    for tests and bench. ``configure_runtime`` applies the
    runtime-settable subset to an externally-owned session.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # a task's memory grows by 4 MiB pages, not by heap-derived
        # 64 MiB ones (module docstring)
        .config("spark.buffer.pageSize", "4m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # keep \r progress bars out of captured bench/driver output —
        # BENCH_r03's "tail" was unreadable because of them (ADVICE r3)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Local test files are single ~100MB parquets; the 128MB default
        # split yields 1-3 scan tasks and idles the other cores. On a
        # real cluster files are many and this knob returns to ~128MB.
        .config("spark.sql.files.maxPartitionBytes", "8MB")
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # default 4MB open-cost floors the split size above small local
        # files; row-group-granular splits need it out of the way
        .config("spark.sql.files.openCostInBytes", "262144")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to a session we did not build.

    The driver owns its SparkSession; these are the settings our
    queries rely on that can be flipped post-hoc:
    - UTC session timezone (oracle comparison: DuckDB timestamps are
      naive/UTC),
    - nanosAsLong (harmless for the current timestamp[us] ``events``
      fixture, required when a testdata drop reverts to timestamp[ns],
      which the Spark Parquet reader otherwise rejects — FIXTURES.md
      §9; catalog.load_table handles both units),
    - AQE on (cheap insurance; default in 4.x anyway).

    ``spark.buffer.pageSize`` is not among them: it is a static core
    conf, read once when the SparkContext starts, so a session built
    elsewhere keeps its own page size (get_spark sets 4 MiB).
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.parquet.filterPushdown", "true"),
        # DisableUnnecessaryBucketedScan drops the bucketed read when
        # no operator needs the hash distribution — but bucket-FILTER
        # pruning (q_dedup_lsh_served's SelectedBucketsCount point
        # lookup) rides the bucketed read, and the planner rule does
        # not account for it. The only bucketed tables here are the
        # q_join_bucketed copies (whose join requires the
        # distribution, so the rule never disabled theirs) and the
        # LSH band index (which exists to be bucket-pruned).
        ("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-runtime-settable in this deployment: keep going
    try:
        # An externally-built session often carries Spark's stock 200
        # shuffle partitions — oversized for this workload (AQE
        # coalesces batch shuffles, but streaming state operators keep
        # all 200 forever). Resize only the untouched default; a
        # deliberate non-200 setting is respected.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
    except Exception:
        pass
    return spark

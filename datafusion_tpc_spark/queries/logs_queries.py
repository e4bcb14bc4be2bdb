"""The reference's three benchmark queries, VERBATIM, on the
reconstructed `logs` table (reference benches/query.rs:23-27;
fixture spec FIXTURES.md §1):

    SELECT * FROM logs
    SELECT service, pod FROM logs WHERE request_method = 'DELETE'
    SELECT container, pod, AVG(response_bytes) AS avg_response_size
    FROM logs GROUP BY container, pod

The fixture is generated deterministically at import (numpy seed 42,
fixtures/gen_logs.py) so the DuckDB oracle can read the same parquet
by absolute path (gen_logs.logs_path, the one source of it). It is
written in bounded row groups, so the scan splits across every core
as the reference's thread-per-core scan does (reference
src/main.rs:41); the correctness and bench paths read the same file.

Registration mirrors the reference's register-once (benches/
query.rs:35-40): the read is memoized per session and fingerprint
(catalog.memo_read) and the `logs` view is re-registered only when
the DataFrame under it changed (catalog.register_view), so a repeat
build runs no Spark job.

The AVG query rounds on both sides per the oracle conventions; the
SQL text the engine executes is otherwise identical to the
reference's strings.

Scale pinning: the reference's logs dataset is a FIXED dataset (its
data dirs are hard-coded, reference src/main.rs:28-29) — it does not
scale with the TPC sf. The oracle strings are static text, so both
sides read the same canonical sf0.01 fixture regardless of the
driver's sf_dir; parity therefore holds at every scale the driver
might pick (previously the Spark side followed sf_dir while the
oracle stayed pinned, silently breaking at non-0.01 scales). Bench
opts into larger fixtures via SPARK_GRAFT_LOGS_SF (bench.py sets it
from its sf_dir; the oracle is never consulted on the bench path).
"""

from __future__ import annotations

import os

from fixtures.gen_logs import ensure_all, logs_path

from datafusion_tpc_spark.catalog import memo_read, register_view
from datafusion_tpc_spark.registry import query
from datafusion_tpc_spark.session import configure_runtime

ensure_all()

_CANONICAL_SF = "0.01"


def _logs(spark, sf_dir):
    configure_runtime(spark)
    # SPARK_GRAFT_LOGS_SF is honored ONLY under the bench harness
    # (bench.py exports SPARK_GRAFT_BENCH=1 alongside it). An ambient
    # leak of the var — e.g. exported in a shell that later runs
    # oracled verification — must NOT move the Spark side off the
    # canonical sf while the oracle strings stay pinned to sf0.01.
    if os.environ.get("SPARK_GRAFT_BENCH") == "1":
        sf = os.environ.get("SPARK_GRAFT_LOGS_SF", _CANONICAL_SF)
    else:
        sf = _CANONICAL_SF
    path = logs_path(sf)
    df = memo_read(spark, path, lambda: spark.read.parquet(path))
    return register_view(spark, "logs", df)


@query(
    "q_logs_scan",
    oracle=f"SELECT * FROM read_parquet('{logs_path('0.01')}')",
)
def q_logs_scan(spark, sf_dir):
    """reference benches/query.rs:24 — `SELECT * FROM logs`."""
    _logs(spark, sf_dir)
    return spark.sql("SELECT * FROM logs")


@query(
    "q_logs_filter",
    oracle=f"""
    SELECT service, pod FROM read_parquet('{logs_path('0.01')}')
    WHERE request_method = 'DELETE'
    """,
)
def q_logs_filter(spark, sf_dir):
    """reference benches/query.rs:25 — filter + projection."""
    _logs(spark, sf_dir)
    return spark.sql("SELECT service, pod FROM logs WHERE request_method = 'DELETE'")


@query(
    "q_logs_agg",
    oracle=f"""
    SELECT container, pod, ROUND(AVG(response_bytes), 6) AS avg_response_size
    FROM read_parquet('{logs_path('0.01')}')
    GROUP BY container, pod
    """,
)
def q_logs_agg(spark, sf_dir):
    """reference benches/query.rs:26 — the `aggregation` bench."""
    _logs(spark, sf_dir)
    return spark.sql(
        """
        SELECT container, pod, ROUND(AVG(response_bytes), 6) AS avg_response_size
        FROM logs GROUP BY container, pod
        """
    )

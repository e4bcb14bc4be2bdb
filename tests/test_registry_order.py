"""Registry invariants.

The external driver verifies the first 50 queries in QUERIES dict
insertion order; load_all() pins those slots to registry.DRIVER_WINDOW.
test_driver_window_contents pins the window independently, so a
silent edit to DRIVER_WINDOW fails here. The other tests check that
module discovery registers every declared query, that each query has
a callable and oracles only registered names, and that the driver
canonicalizer lint rejects hazardous output schemas.
"""

from __future__ import annotations

import glob
import os

from datafusion_tpc_spark import registry

registry.load_all()

# The driver window, pinned INDEPENDENTLY of registry.DRIVER_WINDOW
# on purpose: a silent edit there must fail here.
EXPECTED_WINDOW_50 = [
    "q_agg_cms",
    "q_agg_hll",
    "q_dedup_prefix",
    "q_dedup_semantic",
    "q_dq_benford",
    "q_dq_calibration",
    "q_dq_checks",
    "q_dq_chi2",
    "q_dq_drift",
    "q_dq_kanon",
    "q_dq_ldiv",
    "q_dq_prcurve",
    "q_dq_skew",
    "q_dq_tclose",
    "q_evt_autocorr",
    "q_evt_backtest",
    "q_evt_holt",
    "q_evt_interarrival",
    "q_evt_islands",
    "q_evt_rfm",
    "q_evt_survival",
    "q_join_pit",
    "q_pipe_budget",
    "q_pipe_cdc",
    "q_pipe_domain_cap",
    "q_pipe_lenbucket",
    "q_pipe_split_content",
    "q_pipe_temperature",
    "q_scd2",
    "q_sim_ann",
    "q_sim_anneval",
    "q_sim_anneval_batch",
    "q_sim_batch",
    "q_sim_centroid",
    "q_sim_hardneg",
    "q_sim_ivf",
    "q_sim_ivf_batch",
    "q_sim_ivf_sweep",
    "q_sim_ivfeval",
    "q_sim_ivfeval_batch",
    "q_sim_mmr",
    "q_sim_ndcg",
    "q_sim_ndcg_batch",
    "q_sim_pca",
    "q_sim_pq",
    "q_sim_pqadc",
    "q_sim_rrf",
    "q_sim_sq8",
    "q_sim_topk",
    "q_text_readability",
]


def test_driver_window_contents():
    assert list(registry.QUERIES)[:50] == EXPECTED_WINDOW_50


def test_every_query_has_callable_and_oracle_subset():
    for name, fn in registry.QUERIES.items():
        assert callable(fn), name
    assert set(registry.ORACLE) <= set(registry.QUERIES)


def test_load_all_discovers_every_module():
    """Discovery misses no module or subpackage: every ``@query(``
    decorator in the package is registered, and a second load_all()
    is a no-op."""
    pkg = os.path.dirname(registry.__file__)
    decorators = 0
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            decorators += sum(1 for line in f if line.lstrip().startswith("@query("))
    assert len(registry.QUERIES) == decorators
    before = list(registry.QUERIES)
    registry.load_all()
    assert list(registry.QUERIES) == before


def test_canonicalizer_lint_rejects_hazardous_schemas():
    """The driver-canonicalizer contract lint (VERDICT r10 item 5,
    tests/conftest.py) must reject every known-hazardous top-level
    type (bare array -> pandas sort_values dies; DECIMAL -> object-
    dtype hash mismatch, the r5 adjudication; map/struct/binary
    untested by any driver row) and accept the full proven-atomic
    set the 247 driver-green queries actually emit."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from tests.conftest import assert_driver_canonicalizable

    ok = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tsn", T.TimestampNTZType()),
        ]
    )
    assert_driver_canonicalizable(ok, "ok")
    for bad in (
        T.ArrayType(T.LongType()),
        T.MapType(T.StringType(), T.LongType()),
        T.StructType([T.StructField("x", T.LongType())]),
        T.DecimalType(28, 4),
        T.BinaryType(),
        T.DayTimeIntervalType(),
    ):
        with _pytest.raises(AssertionError):
            assert_driver_canonicalizable(
                T.StructType([T.StructField("c", bad)]), "bad"
            )

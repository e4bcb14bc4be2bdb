"""Declared-query registry.

Every operator from SURVEY.md §2 registers here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible and deterministic) an ANSI-SQL oracle
string for DuckDB. The driver contract (__spark_entry__.py) simply
re-exports these dicts.

Conventions (SURVEY.md §5, FIXTURES.md):
- alias every computed column identically on both sides,
- explicit NULLS FIRST/LAST on every ORDER BY,
- ROUND(x, 6) on floating aggregates,
- array_sort around collect_list/array_agg,
- explicit casts at type-coercion edges (SUM(bigint) → DuckDB HUGEINT
  needs CAST AS BIGINT; counts are BIGINT on both sides).
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from typing import Any

QUERIES: dict[str, Callable[[Any, str], Any]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a declared query. ``oracle=None`` marks a rows-only
    check (approx / nondeterministic / non-SQL-expressible — the `†`
    ids in SURVEY.md §2)."""

    def deco(fn):
        # Silent overwrite would run the EARLIER-registered query under
        # the later one's oracle expectations (or vice versa) — the
        # r7 q_pipe_split near-miss: a new module reused an existing
        # name and every check "passed" by exercising the old query.
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                f"(already registered by {QUERIES[name].__module__})"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        fn.query_name = name
        return fn

    return deco


# The external driver verifies exactly these query ids, in this order.
DRIVER_WINDOW: tuple[str, ...] = (
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
)


def _promote_window(window: tuple[str, ...]) -> None:
    """Reorder QUERIES in place so `window` occupies the first
    len(window) insertion slots — the driver verifies dict order, so
    this IS the per-round verification window. Raises if the window
    names an unregistered id (a typo here would silently shrink
    driver coverage otherwise)."""
    missing = [q for q in window if q not in QUERIES]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names unregistered queries: {missing}")
    head = {q: QUERIES[q] for q in window}
    tail = {q: fn for q, fn in QUERIES.items() if q not in head}
    QUERIES.clear()
    QUERIES.update(head)
    QUERIES.update(tail)


def load_all() -> None:
    """Import every module of the ``queries``, ``operators`` and
    ``streaming`` subpackages (each registers its queries on import),
    then pin the driver window to the first 50 slots. Idempotent."""
    for sub in ("queries", "operators", "streaming"):
        pkg = importlib.import_module(f"{__package__}.{sub}")
        for mod in pkgutil.iter_modules(pkg.__path__):
            importlib.import_module(f"{pkg.__name__}.{mod.name}")
    _promote_window(DRIVER_WINDOW)

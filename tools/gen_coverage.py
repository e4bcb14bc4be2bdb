"""Generate COVERAGE.md — one row per registered query: id, module,
oracle kind, one-line description — so SURVEY.md §2's inventory can be
checked line by line against the implementation."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from datafusion_tpc_spark import registry  # noqa: E402

registry.load_all()

HEADER = """# COVERAGE — declared-query inventory → implementation

Generated by tools/gen_coverage.py (do not hand-edit). Every SURVEY.md
§2 query id plus the extension operators, with its implementing
module and verification mode: `exact` = DuckDB oracle hash-match
(driver t2), `rows-only` = † per SURVEY (approx / nondeterministic /
streaming / non-SQL-expressible).

| query id | module | check | summary |
|---|---|---|---|
"""


# Irreducibility audit (VERDICT r10 item 4): every remaining † must
# carry a one-line reason its nondeterminism is ENGINE-INTERNAL, not
# convention — a † id missing here fails the build (add the note or
# graduate it; r11 graduated q_pipe_pack and q_dedup_minhash_capped
# exactly because their "nondeterminism" was convention).
IRREDUCIBLE = {
    "q_agg_approxd": "Spark approx_count_distinct is HLL++ with "
    "Spark-internal register layout; DuckDB's HLL differs — the "
    "ESTIMATE is engine-defined, there is no common oracle value.",
    "q_agg_pctl": "Spark approx_percentile = Greenwald-Khanna sketch, "
    "DuckDB = t-digest — two different approximation algorithms by "
    "spec; exact percentiles are the separate q_agg_median/pctl_w.",
    "q_agg_tdigest": "t-digest centroid positions depend on the "
    "cross-partition merge ORDER (associative, not order-canonical) — "
    "no engine-independent value exists for the sketch state itself.",
    "q_agg_winsorize_td": "its clip bounds are q_agg_tdigest quantile "
    "read-offs, so they inherit the sketch's partition-split "
    "dependence — the exact-bounds twin (q_agg_winsorize) is the "
    "oracle-checked variant; r12 tests pin the clip-count/mean drift "
    "between the two.",
    "q_dedup_embed_lsh": "per-bucket numpy GEMM is the design point "
    "(BLAS-ordered accumulation); no SQL element-order fold matches "
    "its last-ulp sums, and a ROUND-6 mask can still flip ties — the "
    "exact twins are q_dedup_embed/q_dedup_semantic.",
    "q_fn_blake": "DuckDB ships no blake2b — digest bytes are pinned "
    "byte-for-byte against hashlib in pytest instead of SQL.",
    "q_fn_blake3": "DuckDB ships no blake3 — same hashlib pytest pin.",
    "q_fn_nondet": "uuid()/random() — the surface under test IS "
    "nondeterminism; only shape/range invariants are checkable.",
    "q_mm_decode": "the stubbed decode seam (multimodal.py plug "
    "point) emits payload-derived features a SQL engine cannot "
    "recompute; the deterministic-fake twin is pytest-pinned.",
    "q_mm_resize": "same decode seam as q_mm_decode.",
    "q_stream_tumble": "micro-batch slicing decides when windows "
    "emit; the EXACT-choreographed twins are q_stream_late/sink.",
    "q_stream_session": "session merge timing follows micro-batch "
    "slicing (engine-internal).",
    "q_stream_dedup": "dropDuplicates state eviction follows the "
    "watermark protocol across engine-chosen batch boundaries.",
    "q_stream_stateful": "applyInPandasWithState emission per batch "
    "is engine-scheduled.",
    "q_stream_join": "stream-stream join row availability depends on "
    "batch co-arrival (engine-internal).",
    "q_stream_join_outer": "outer-join NULL emission follows the "
    "TWO-watermark eviction protocol (SPARK-24634) — timing is "
    "engine-internal by documented design.",
    "q_stream_hop": "sliding-window emission follows micro-batch "
    "slicing (engine-internal).",
    "q_stream_quantile": "per-batch sketch state evolves with batch "
    "slicing AND the sketch is engine-defined (see q_agg_pctl).",
    "q_text_compress": "zlib level-6 byte counts are codec-library-"
    "defined and DuckDB has no compression function; the UDF is "
    "pinned byte-for-byte against zlib in pytest.",
}


def main() -> None:
    rows = []
    for name in sorted(registry.QUERIES):
        fn = registry.QUERIES[name]
        mod = fn.__module__.replace("datafusion_tpc_spark.", "")
        check = "exact" if name in registry.ORACLE else "rows-only †"
        doc = (fn.__doc__ or "").strip().splitlines()[0].rstrip(".")
        rows.append(f"| {name} | {mod} | {check} | {doc} |")
    n_exact = sum(1 for n in registry.QUERIES if n in registry.ORACLE)
    rows_only = sorted(n for n in registry.QUERIES if n not in registry.ORACLE)
    missing = [n for n in rows_only if n not in IRREDUCIBLE]
    stale = [n for n in IRREDUCIBLE if n not in rows_only]
    assert not missing, f"rows-only queries missing an irreducibility note: {missing}"
    assert not stale, f"IRREDUCIBLE notes for non-rows-only queries: {stale}"
    body = "\n".join(rows)
    audit = "\n".join(f"- **{n}** — {IRREDUCIBLE[n]}" for n in rows_only)
    footer = (
        f"\n\n{len(registry.QUERIES)} queries: {n_exact} exact-oracled, "
        f"{len(registry.QUERIES) - n_exact} rows-only.\n"
        "\n## Rows-only (†) irreducibility audit\n\n"
        "Why each remaining † cannot carry a DuckDB value oracle "
        "(VERDICT r10 item 4 — engine internals, not convention):\n\n"
        f"{audit}\n"
    )
    with open(os.path.join(ROOT, "COVERAGE.md"), "w") as f:
        f.write(HEADER + body + footer)
    print(f"COVERAGE.md: {len(registry.QUERIES)} queries, {n_exact} exact")


if __name__ == "__main__":
    main()

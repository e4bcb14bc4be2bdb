"""Bench-tooling invariants: tools/ab.py's parent-vs-change summary,
and BASELINE.md row parsing, which feeds the regression comparator, so
a misparse silently un-guards a query (review r7 — the master-table
sentinel was the literal '0.1' sf cell, which also matched any
per-query row whose median is exactly 0.1 s)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from bench_compare import baseline_rows  # noqa: E402


def test_baseline_rows_shapes(tmp_path):
    md = tmp_path / "B.md"
    md.write_text(
        "| query | sf | median | runs | config |\n"
        "|---|---|---|---|---|\n"
        "| q_master | 0.1 | 0.4567 | 10 | local[32] |\n"
        "| q_perq | 0.1234 | 2026-08-14 r7 (at birth) |\n"
        "| q_tenth | 0.1 | 2026-08-14 r8 (median exactly one tenth) |\n"
        "| q_perq | 0.2222 | 2026-08-14 r9 (re-record, last wins) |\n"
    )
    rows = baseline_rows(str(md))
    assert rows["q_master"] == 0.4567  # master row: median from cell 3
    assert rows["q_tenth"] == 0.1  # per-query row with 0.1 median survives
    assert rows["q_perq"] == 0.2222  # append-newest-last: last wins


def test_baseline_rows_real_file():
    rows = baseline_rows(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "BASELINE.md")
    )
    # every registered headline-able query with a row parses to a float
    assert len(rows) > 200
    assert all(isinstance(v, float) and v > 0 for v in rows.values())


def test_prune_two_phase_supersession(tmp_path):
    """prune_stale_cache_dirs must NOT delete a just-superseded entry
    on first sight (its own mtime is build time — review r7: an old
    build would vanish out from under a concurrent reader); it marks
    it, and deletes only once the MARKER outlives the age gate."""
    import os

    from datafusion_tpc_spark.catalog import prune_stale_cache_dirs

    root = str(tmp_path)
    old = tmp_path / "tag-oldfp"
    old.mkdir()
    (old / "part.parquet").write_text("x")
    os.utime(old, (1, 1))  # built "long ago"
    legacy = tmp_path / "legacykey"
    legacy.mkdir()
    os.utime(legacy, (1, 1))
    (tmp_path / "tag-livefp").mkdir()

    # first call: mark, don't delete — despite ancient dir mtimes
    prune_stale_cache_dirs(root, "tag-livefp", prune_legacy=True)
    assert old.exists() and legacy.exists()
    assert (tmp_path / "tag-oldfp.superseded").exists()
    assert (tmp_path / "legacykey.superseded").exists()

    # age the markers past the gate: second call reclaims
    for m in ("tag-oldfp.superseded", "legacykey.superseded"):
        os.utime(tmp_path / m, (1, 1))
    prune_stale_cache_dirs(root, "tag-livefp", prune_legacy=True)
    assert not old.exists() and not legacy.exists()
    assert not (tmp_path / "tag-oldfp.superseded").exists()
    assert (tmp_path / "tag-livefp").exists()

    # orphaned marker (target already gone) is swept
    (tmp_path / "tag-ghost.superseded").write_text("")
    prune_stale_cache_dirs(root, "tag-livefp")
    assert not (tmp_path / "tag-ghost.superseded").exists()


def test_prune_file_entries_and_extra(tmp_path):
    """File-based caches (fixtures/optimize.py): fingerprinted
    siblings and the `extra` legacy name follow the same two-phase
    cycle; other tables' files are untouched."""
    import os

    from datafusion_tpc_spark.catalog import prune_stale_cache_dirs

    root = str(tmp_path)
    for name in (
        "nation-livefp.parquet",
        "nation-oldfp.parquet",
        "nation-dead.tmp",
        "nation.parquet",
        "orders.parquet",
        "orders-otherfp.parquet",
    ):
        (tmp_path / name).write_text("x")
        os.utime(tmp_path / name, (1, 1))
    prune_stale_cache_dirs(
        root, "nation-livefp.parquet", extra=("nation.parquet",)
    )
    # marked, not deleted
    assert (tmp_path / "nation-oldfp.parquet").exists()
    for m in os.listdir(root):
        if m.endswith(".superseded"):
            os.utime(tmp_path / m, (1, 1))
    prune_stale_cache_dirs(
        root, "nation-livefp.parquet", extra=("nation.parquet",)
    )
    left = sorted(p for p in os.listdir(root) if not p.endswith(".superseded"))
    assert left == [
        "nation-livefp.parquet",
        "orders-otherfp.parquet",
        "orders.parquet",
    ]


def test_baseline_rows_skips_autogen_block(tmp_path):
    """(r14) The consolidated numbers-of-record table is RENDERED
    FROM baseline_rows (tools/gen_baseline_index.py) — the parser
    must never read it back, or a stale copy would shadow newer
    per-round rows appended after it."""
    md = tmp_path / "B.md"
    md.write_text(
        "| q_live | 0.5000 | 2026-08-16 r14 (current) |\n"
        "<!-- AUTOGEN:numbers-of-record begin (tools/gen_baseline_index.py) -->\n"
        "| q_live | 0.1000 | stale consolidated copy |\n"
        "| q_ghost | 9.9999 | only exists in the stale block |\n"
        "<!-- AUTOGEN:numbers-of-record end -->\n"
        "| q_live | 0.7000 | 2026-08-16 r14 (newer, appended after block) |\n"
    )
    rows = baseline_rows(str(md))
    assert rows["q_live"] == 0.7
    assert "q_ghost" not in rows


def test_gen_baseline_index_idempotent_and_resolved():
    """Re-rendering the real BASELINE.md block is a no-op, and the
    block's rows equal the parser's resolved view (query ids only)."""
    import re

    from gen_baseline_index import BEGIN, END, render

    repo = os.path.dirname(os.path.dirname(__file__))
    src = open(os.path.join(repo, "BASELINE.md")).read()
    assert BEGIN in src and END in src, "run tools/gen_baseline_index.py"
    current = src[src.index(BEGIN) : src.index(END) + len(END)]
    assert current == render()
    parsed = {
        q: v
        for q, v in baseline_rows(os.path.join(repo, "BASELINE.md")).items()
        if re.match(r"^q_[a-z0-9_]+$", q)
    }
    in_block = dict(
        re.findall(r"\| (q_[a-z0-9_]+) \| (\d+\.\d{4}) \|", current)
    )
    assert set(in_block) == set(parsed)
    assert all(float(in_block[q]) == round(parsed[q], 4) for q in parsed)


def test_ab_summary_over_canned_runs():
    """tools/ab.py's summary: medians, the parent's quartiles, wins and
    the verdict against each bound, over pairs where both sides report;
    a run without a result line counts as failed and drops its pair.
    Records of another workload are skipped; a second run of one seed
    on one side is an error."""
    from ab import PREFIX, format_summary, parse_records, summarize

    def line(pair, side, qps, lat, mem, cpu, rc=0, workload="olap"):
        metrics = {
            "qps": {"value": qps, "unit": "1/s"},
            "latency_geomean_s": {"value": lat, "unit": "s"},
            "peak_exec_mem_mb": {"value": mem, "unit": "MB"},
            "cpu_s_per_op": {"value": cpu, "unit": "s"},
        }
        result = {"correct": rc == 0, "metrics": metrics}
        return PREFIX + json.dumps(
            {"workload": workload, "pair": pair, "side": side, "seed": pair, "rc": rc,
             "result": result}
        )

    lines = [
        line(0, "parent", 4.0, 0.20, 132.0, 0.5),
        line(0, "change", 4.1, 0.30, 18.0, 0.9),
        line(1, "change", 3.9, 0.30, 18.0, 0.9),
        line(1, "parent", 4.2, 0.21, 132.0, 1.0),
        line(2, "parent", 4.1, 0.22, 132.0, 1.5),
        line(2, "change", 4.0, 0.30, 18.0, 1.6),
        "perfbench-notes {}",
        PREFIX + json.dumps({"workload": "olap", "pair": 3, "side": "parent", "seed": 3,
                             "rc": 3, "result": None}),
        line(3, "change", 9.9, 0.01, 1.0, 0.1),
        line(0, "parent", 1.0, 9.0, 999.0, 9.0, workload="llm_curation"),
    ]
    spec = [
        {"name": "qps", "unit": "1/s", "better": "higher", "bound": 0.25},
        {"name": "latency_geomean_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "peak_exec_mem_mb", "unit": "MB", "better": "lower", "bound": 0.05},
        {"name": "cpu_s_per_op", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    ]
    records = parse_records(lines, "olap")
    assert len(records) == 8
    summary = summarize(records, spec)
    rows = {r["name"]: r for r in summary["rows"]}
    assert set(rows) == {"qps", "latency_geomean_s", "peak_exec_mem_mb", "cpu_s_per_op"}
    assert summary["failed"] == {"parent": 1, "change": 0}

    qps = rows["qps"]
    assert (qps["parent_median"], qps["change_median"]) == (4.1, 4.0)
    assert (qps["parent_q1"], qps["parent_q3"]) == pytest.approx((4.05, 4.15))
    assert (qps["wins"], qps["pairs"], qps["verdict"]) == (1, 3, "flat")

    lat = rows["latency_geomean_s"]
    assert lat["rel"] == pytest.approx(-0.09 / 0.21)
    assert (lat["wins"], lat["verdict"]) == (0, "worse")

    mem = rows["peak_exec_mem_mb"]
    assert (mem["wins"], mem["parent_q1"], mem["parent_q3"]) == (3, 132.0, 132.0)
    assert mem["verdict"] == "better"

    # the parent's IQR (0.75-1.25) is half its median, wider than the
    # bound, and the change won 1 pair of 3: no move can be told apart
    cpu = rows["cpu_s_per_op"]
    assert (cpu["parent_q1"], cpu["parent_q3"]) == pytest.approx((0.75, 1.25))
    assert cpu["rel"] == pytest.approx(0.1)
    assert (cpu["wins"], cpu["verdict"]) == (1, "unresolved")

    text = format_summary(summary)
    assert "peak_exec_mem_mb" in text and "3/3" in text
    assert "failed runs: parent 1, change 0" in text

    with pytest.raises(ValueError, match="two parent runs of seed 0"):
        summarize(records + parse_records(lines[:1], "olap"), spec)

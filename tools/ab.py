"""Interleaved parent-vs-change runs of the end-to-end benchmark.

Usage, from anywhere in a checkout:

    python3 tools/ab.py --parent HEAD --workload olap --pairs 6 \\
        --seed 9100 --workdir <scratch dir>
    python3 tools/ab.py --from <saved output>... --workload olap

Pair ``i`` runs ``python3 perfbench/run.py`` once on each side with seed
``seed + i`` and the ``run_seconds`` of ``BENCHMARK.json``. Even pairs
run the parent first, odd pairs the change, so host drift falls on both
sides alike. The parent runs from a clone of
``--parent`` under ``--workdir`` (kept and reused by later calls); the
change is this checkout's working tree. Every run prints one
``ab-run {...}`` line naming its workload, so saved outputs can be
summarized again, alone or together, with ``--from``; lines of other
workloads are skipped. Two runs of one seed on one side are an error:
give each call its own ``--seed`` range.

The summary gives, for each metric of ``BENCHMARK.json`` (the per-layer
ones with ``--trace 1``), each side's median, the parent's quartiles,
the pairs the change won and a verdict against the metric's bound:
``worse`` when the change's median is worse than the parent's by more
than the bound; ``unresolved`` when the parent's interquartile range,
relative to its median, is wider than the bound and the change did not
win every pair, so the runs cannot tell a move inside the bound from
none; ``better`` when it won at least 9 pairs in 10 and its median moved
by more than the parent's interquartile range; ``flat`` otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREFIX = "ab-run "
WIN_SHARE = 0.9


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parent_clone(rev: str, workdir: str) -> str:
    """A clone of this repository checked out at ``rev``, reused when
    one already exists at that commit."""
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", rev], check=True, capture_output=True, text=True
    ).stdout.strip()
    dest = os.path.join(workdir, f"parent-{sha[:12]}")
    if not os.path.isdir(os.path.join(dest, ".git")):
        subprocess.run(["git", "clone", "--quiet", "--no-checkout", ROOT, dest], check=True)
        subprocess.run(["git", "-C", dest, "checkout", "--quiet", sha], check=True)
    return dest


def run_once(cwd: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run in ``cwd``: its exit code and parsed result
    line (None when the run printed none)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return {"rc": proc.returncode, "result": result}


def parse_records(lines, workload: str) -> list[dict]:
    """The ``ab-run`` records of ``workload`` among ``lines``."""
    records = (json.loads(line[len(PREFIX):]) for line in lines if line.startswith(PREFIX))
    return [r for r in records if r.get("workload") == workload]


def _value(record: dict, name: str) -> float | None:
    result = record.get("result") or {}
    metric = result.get("metrics", {}).get(name)
    return None if metric is None else float(metric["value"])


def summarize(records: list[dict], metrics: list[dict]) -> dict:
    """Per-metric medians, the parent's quartiles, the change's wins
    and a verdict, over the pairs where both sides reported a value.
    A pair is the two runs of one seed, so saved outputs of several
    calls with distinct seeds summarize together; a second run of a
    seed on one side raises ValueError."""
    sides: dict[int, dict[str, dict]] = {}
    for r in records:
        by_side = sides.setdefault(r["seed"], {})
        if r["side"] in by_side:
            raise ValueError(f"two {r['side']} runs of seed {r['seed']}")
        by_side[r["side"]] = r
    failed = {
        side: sum(
            1 for r in records
            if r["side"] == side
            and (r["rc"] != 0 or not (r.get("result") or {}).get("correct", False))
        )
        for side in ("parent", "change")
    }
    rows = []
    for m in metrics:
        name, higher = m["name"], m.get("better") == "higher"
        pairs = []
        for by_side in sides.values():
            p, c = (_value(by_side.get(s, {}), name) for s in ("parent", "change"))
            if p is not None and c is not None:
                pairs.append((p, c))
        if not pairs:
            continue
        par = [p for p, _ in pairs]
        chg = [c for _, c in pairs]
        p_med, c_med = statistics.median(par), statistics.median(chg)
        q1, _, q3 = (
            statistics.quantiles(par, n=4, method="inclusive") if len(par) > 1 else par * 3
        )
        wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
        # relative move, positive when the change is better
        gain = (c_med - p_med) if higher else (p_med - c_med)
        rel = gain / abs(p_med) if p_med else 0.0
        bound = m.get("bound")
        spread = (q3 - q1) / abs(p_med) if p_med else 0.0
        if bound is not None and rel < -bound:
            verdict = "worse"
        elif bound is not None and spread > bound and wins < len(pairs):
            verdict = "unresolved"
        elif wins >= WIN_SHARE * len(pairs) and gain > q3 - q1:
            verdict = "better"
        else:
            verdict = "flat"
        rows.append({
            "name": name, "unit": m.get("unit", ""), "bound": bound,
            "parent_median": p_med, "parent_q1": q1, "parent_q3": q3,
            "change_median": c_med, "wins": wins, "pairs": len(pairs),
            "rel": rel, "verdict": verdict,
        })
    return {"rows": rows, "failed": failed}


def format_summary(summary: dict) -> str:
    out = [
        f"{'metric':<36} {'parent':>11} {'parent IQR':>23} {'change':>11} "
        f"{'move':>7} {'wins':>6} {'bound':>5}  verdict"
    ]
    for r in summary["rows"]:
        iqr = f"{r['parent_q1']:.4g}–{r['parent_q3']:.4g}"
        bound = "" if r["bound"] is None else f"{r['bound']:.2f}"
        out.append(
            f"{r['name']:<36} {r['parent_median']:>11.4g} {iqr:>23} "
            f"{r['change_median']:>11.4g} {100 * r['rel']:>+6.1f}% "
            f"{r['wins']:>2}/{r['pairs']:<3} {bound:>5}  {r['verdict']}"
        )
    f = summary["failed"]
    out.append(f"failed runs: parent {f['parent']}, change {f['change']}")
    return "\n".join(out)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--from", dest="saved", nargs="+",
                   help="summarize saved outputs instead of running")
    p.add_argument("--parent", help="git revision of the parent side")
    p.add_argument("--workdir", help="directory that holds the parent's clone")
    p.add_argument("--pairs", type=int, default=6)
    p.add_argument("--seed", type=int, default=9100)
    args = p.parse_args()
    spec = load_spec()

    if args.saved:
        records = []
        for path in args.saved:
            with open(path) as f:
                records += parse_records(f, args.workload)
    else:
        if not (args.parent and args.workdir):
            p.error("--parent and --workdir are required unless --from is given")
        dirs = {"parent": parent_clone(args.parent, args.workdir), "change": ROOT}
        records = []
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                rec = {"workload": args.workload, "pair": i, "side": side,
                       "seed": args.seed + i}
                rec.update(run_once(dirs[side], args.workload, args.seed + i,
                                    spec["run_seconds"], args.trace))
                print(PREFIX + json.dumps(rec), flush=True)
                records.append(rec)
    print(f"{args.workload}: {len({r['seed'] for r in records})} pairs")
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    try:
        summary = summarize(records, metrics)
    except ValueError as e:
        p.error(str(e))
    print(format_summary(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())

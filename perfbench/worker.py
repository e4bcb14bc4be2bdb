"""One measured run of one workload, in a fresh Python + JVM process.

The loop is closed with one client: an op starts when the previous one
has finished. One op is what a caller pays for a query:
``registry.QUERIES[name](spark, sf_dir)`` (the build, including any
eager Spark jobs) plus one ``noop`` write (plan + execute).

1. Set-up: ``get_spark()``, ``registry.load_all()`` and a cold pass
   that runs every query of the workload once, in the workload's listed
   order. ``setup_s`` runs from process start to the end of the cold
   pass. Then ``WARMUP_PASSES`` untimed passes, in the same order.
2. Timed window: whole passes, each query once per pass in an order
   drawn from the seed, until ``--seconds`` have passed and at least
   ``MIN_PASSES`` passes have run. Passes the host slowed
   (``STEAL_LIMIT``) are left out of the window's metrics.
3. Outside the window: counters are read from Spark's status stores,
   then the DataFrame of each query's last timed op is collected
   (Arrow) and checked against the query's DuckDB oracle.

Stdout ends with one JSON line, the end-to-end metrics or (``--trace
1``) the per-layer ones. The line before it carries the run's JIT and
steal time, so an outlier run can be explained.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from typing import NamedTuple

import probes

ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # the program under test: the checkout

# Why each workload was chosen: NOTES.md.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "olap": (
        "q_logs_scan",
        "q_logs_filter",
        "q_logs_agg",
        "q_join_inner",
        "q_win_rank",
    ),
    "llm_curation": (
        "q_udf",
        "q_text_stats",
        "q_pipe_quality_filter",
        "q_dedup_decontam_served",
        "q_sink_json",
    ),
}

# Each pass is still faster than the one before (the JIT keeps
# compiling), so single passes spread widely between runs (12 % IQR on
# olap); totals over three passes spread 2-3 % (NOTES.md).
MIN_PASSES = 3
# Untimed passes after the cold pass take the window past the steepest
# part of the JIT curve, where a fast run's extra passes are also its
# cheapest: over ten olap runs, cpu_s_per_op spread 13-18.5 % with one
# warm-up pass and 8.9 % with three (NOTES.md).
WARMUP_PASSES = 3
# Host contention comes in episodes that slow a pass by up to double;
# the hypervisor's steal time marks them. A pass that lost more than
# STEAL_LIMIT of the VM's CPU time (wall x nproc) to steal measures the
# host, not the program, and is left out of the window's metrics. If
# fewer than MIN_PASSES are left, the MIN_PASSES passes with the least
# steal are used (NOTES.md).
STEAL_LIMIT = 0.08

# Caches the program writes, relative to the checkout.
CACHE_DIRS = (".cache", "spark-warehouse")

_BROADCAST_TIME = ("time to collect", "time to build", "time to broadcast")


def pass_orders(names, seed: int):
    """Endless sequence of passes; each is a permutation of ``names``
    drawn from ``seed`` alone."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Pass(NamedTuple):
    """One timed pass: wall and process-tree CPU seconds, the host's
    steal seconds over the pass, and its ops."""

    wall: float
    cpu: float
    steal: float
    ops: list


class Op:
    """One op: wall-clock marks (epoch seconds) and its outcome."""

    __slots__ = ("name", "t0", "t1", "t2", "ok")

    def __init__(self, name: str):
        self.name = name
        self.t0 = self.t1 = self.t2 = time.time()
        self.ok = False


class Runner:
    def __init__(self, spark, sf_dir: str, inject_failure: str | None):
        from datafusion_tpc_spark import registry

        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = registry.QUERIES
        self.inject_failure = inject_failure
        self.attempted = 0
        self.failed = 0

    def run(self, name: str):
        """Run one op; returns (Op, its DataFrame or None). An op that
        raises is logged and counted, and the loop goes on."""
        op = Op(name)
        df = None
        self.attempted += 1
        try:
            if name == self.inject_failure:
                raise RuntimeError("injected failure")
            df = self.queries[name](self.spark, self.sf_dir)
            op.t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            op.ok = True
        except Exception:  # noqa: BLE001 - the loop must keep running
            self.failed += 1
            log(f"op {name} raised:\n{traceback.format_exc()}")
        op.t2 = time.time()
        return op, (df if op.ok else None)


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _in(t_ms, lo: float, hi: float) -> bool:
    return t_ms is not None and lo * 1000 <= t_ms <= hi * 1000 + 1


def _covered_s(intervals) -> float:
    """Length of the union of (start, end) intervals, in seconds."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total / 1000.0


def layer_metrics(store, ops, w0: float, w1: float) -> dict[str, float]:
    """Per-op engine counters of the window's ops, attributed by
    submission time: the loop is sequential, so every job, stage and
    SQL execution submitted during an op belongs to it. Attribution is
    by id and time, never by list length, so it holds as long as
    retention keeps the window."""
    jobs = [j for j in store.jobs() if _in(j["submissionTime"], w0, w1)]
    stage_by_id: dict[int, list[dict]] = {}
    for s in store.stages():
        stage_by_id.setdefault(s["stageId"], []).append(s)
    execs = [e for e in store.executions(int(w0 * 1000)) if e["submitted"] <= w1 * 1000 + 1]

    def run_stages(job_list):
        ids = {sid for j in job_list for sid in j["stageIds"]}
        return [a for sid in ids for a in stage_by_id.get(sid, ()) if a["status"] == "COMPLETE"]

    stages = run_stages(jobs)
    build_jobs, plan_s, gap_s = [], [], []
    for op in ops:
        build_jobs += [j for j in jobs if _in(j["submissionTime"], op.t0, op.t1)]
        exec_jobs = [j for j in jobs if _in(j["submissionTime"], op.t1, op.t2)]
        starts = [e["submitted"] for e in execs if _in(e["submitted"], op.t1, op.t2)]
        if starts:
            plan_s.append(min(starts) / 1000.0 - op.t1)
        spans = [
            (j["submissionTime"], j.get("completionTime") or j["submissionTime"])
            for j in exec_jobs
        ]
        gap_s.append((op.t2 - op.t1) - _covered_s(spans))

    sql: dict[str, float] = {}
    for e in execs:
        for k, v in e["metrics"].items():
            sql[k] = sql.get(k, 0.0) + v
    n = len(ops)

    def per_op(x: float) -> float:
        return x / n

    def stage_sum(key: str) -> float:
        return sum(s[key] for s in stages)

    return {
        "registry.build_s": per_op(sum(op.t1 - op.t0 for op in ops)),
        "registry.build_jobs": per_op(len(build_jobs)),
        "registry.build_stages": per_op(len(run_stages(build_jobs))),
        "catalog.scan_files": per_op(sql.get("number of files read", 0.0)),
        "catalog.scan_bytes": per_op(sql.get("size of files read", 0.0)),
        "catalog.scan_s": per_op(sql.get("scan time", 0.0)),
        "operators.stages": per_op(len(stages)),
        "operators.shuffle_bytes": per_op(stage_sum("shuffleWriteBytes")),
        "operators.shuffle_fetch_wait_s": per_op(stage_sum("shuffleFetchWaitTime") / 1e3),
        "operators.broadcast_s": per_op(sum(sql.get(k, 0.0) for k in _BROADCAST_TIME)),
        "operators.task_cpu_s": per_op(stage_sum("executorCpuTime") / 1e9),
        "operators.task_run_s": per_op(stage_sum("executorRunTime") / 1e3),
        "operators.spill_bytes": per_op(stage_sum("diskBytesSpilled")),
        "operators.peak_exec_mem_mb": max(
            (s["peakExecutionMemory"] for s in stages), default=0
        ) / 2**20,
        # the start/initialize timers read tens of seconds per
        # second of wall on PySpark 4.1, so only the run timer is used
        "functions.python_worker_s": per_op(sql.get("time to run Python workers", 0.0)),
        "functions.python_bytes_sent": per_op(sql.get("data sent to Python workers", 0.0)),
        "functions.python_bytes_returned": per_op(
            sql.get("data returned from Python workers", 0.0)
        ),
        "sources.bytes_written": per_op(sql.get("written output", 0.0)),
        "sources.files_written": per_op(sql.get("number of written files", 0.0)),
        "driver.plan_s": statistics.fmean(plan_s) if plan_s else 0.0,
        "driver.gap_s": statistics.fmean(gap_s),
    }


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        return json.load(f)


def bench_env(sf_dir: str) -> str:
    """Select the program's bench path: layout-optimized table copies
    and the logs fixture at the bench's sf (queries/logs_queries.py).
    Returns that sf."""
    from fixtures.gen_logs import sf_of

    logs_sf = sf_of(sf_dir)
    os.environ["SPARK_GRAFT_OPT_CACHE"] = "1"
    os.environ["SPARK_GRAFT_BENCH"] = "1"
    os.environ["SPARK_GRAFT_LOGS_SF"] = logs_sf
    return logs_sf


def measure(args) -> int:
    pid = os.getpid()
    t_start = probes.process_start_epoch(pid)
    logs_sf = bench_env(args.sf_dir)

    t = time.time()
    from datafusion_tpc_spark import registry
    from datafusion_tpc_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    session_s = time.time() - t
    t = time.time()
    registry.load_all()
    load_s = time.time() - t

    names = tuple(args.queries.split(",")) if args.queries else WORKLOADS[args.workload]
    missing = [n for n in names if n not in registry.QUERIES]
    if missing:
        raise SystemExit(f"unregistered queries: {missing}")
    runner = Runner(spark, args.sf_dir, args.inject_failure)
    orders = pass_orders(names, args.seed)
    cache_dirs = [os.path.join(ROOT, d) for d in CACHE_DIRS]

    # 1. set-up: the cold pass, in a fixed order; with seed-drawn orders
    # olap setup_cpu_s spread 22 % over five runs, fixed 0.5 % (NOTES.md)
    cache0 = probes.tree_bytes(cache_dirs)
    t_cold = time.time()
    cold_ops = []
    for name in names:
        op, _ = runner.run(name)
        cold_ops.append(f"{name} {op.t1 - op.t0:.2f}+{op.t2 - op.t1:.2f}s")
    t_cold_end = time.time()
    log("cold pass (build+execute): " + ", ".join(cold_ops))
    setup_s = t_cold_end - t_start
    setup_cpu_s = probes.tree_cpu(pid)[0]
    cache_written = probes.tree_bytes(cache_dirs) - cache0
    for _ in range(WARMUP_PASSES):  # untimed, outside setup_s
        for name in names:
            runner.run(name)

    # 2. the timed window: whole passes
    jvm = probes.Jvm(spark)
    w0 = time.time()
    steal0, jit0, gc0 = probes.host_steal_s(), jvm.jit_s(), jvm.gc_s()
    py0 = probes.tree_cpu(pid)[1]
    ops: list[Op] = []
    last_df = {}  # query -> DataFrame of its last successful op
    passes: list[Pass] = []
    nproc = len(os.sched_getaffinity(0))
    while len(passes) < MIN_PASSES or time.time() - w0 < args.seconds:
        p0, c0, s0 = time.time(), probes.tree_cpu(pid)[0], probes.host_steal_s()
        done = []
        for name in next(orders):
            op, df = runner.run(name)
            done.append(op)
            if df is not None:
                last_df[name] = df
        passes.append(
            Pass(time.time() - p0, probes.tree_cpu(pid)[0] - c0, probes.host_steal_s() - s0, done)
        )
        ops += done
    by_steal = sorted(passes, key=lambda p: p.steal / p.wall)
    used = [p for p in by_steal if p.steal <= STEAL_LIMIT * p.wall * nproc]
    if len(used) < MIN_PASSES:
        used = by_steal[:MIN_PASSES]
    w1 = time.time()
    steal1, jit1, gc1 = probes.host_steal_s(), jvm.jit_s(), jvm.gc_s()
    py1 = probes.tree_cpu(pid)[1]

    # 3. outside the window: counters, then the result check
    t = time.time()
    layers = layer_metrics(probes.StatusStore(spark), ops, w0, w1)
    read_s = time.time() - t

    from check import OracleCheck

    t = time.time()
    checker = OracleCheck(args.sf_dir, logs_sf)
    mismatches = 0
    for name, df in sorted(last_df.items()):
        tq = time.time()
        try:
            reason = checker.mismatch(name, df.toArrow())
        except Exception:  # noqa: BLE001 - a failed collect is a failed check
            reason = traceback.format_exc()
        if reason:
            mismatches += 1
            log(f"result of {name} does not match its oracle: {reason}")
        log(f"check {name} {time.time() - tq:.2f}s")
    checker.close()
    check_s = time.time() - t
    hwm_mb = probes.rss_hwm_mb(jvm.pid)
    spark.stop()

    wall = w1 - w0
    cpu = sum(p.cpu for p in passes)
    used_wall = sum(p.wall for p in used)
    used_ops = [op for p in used for op in p.ops]
    attempted = runner.attempted
    failed = runner.failed + mismatches
    by_query = {q: [op for op in used_ops if op.ok and op.name == q] for q in names}
    lat = [statistics.median(op.t2 - op.t0 for op in v) for v in by_query.values() if v]
    n = len(ops)
    end_to_end = {
        "qps": sum(op.ok for op in used_ops) / used_wall,
        "latency_geomean_s": geomean(lat) if lat else used_wall,
        "cpu_s_per_op": sum(p.cpu for p in used) / len(used_ops),
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "peak_exec_mem_mb": layers["operators.peak_exec_mem_mb"],
        "success_rate": 1.0 - failed / attempted,
    }
    per_layer = dict(layers)
    per_layer.update(
        {
            "session.start_s": session_s,
            "registry.load_s": load_s,
            "catalog.cold_pass_s": t_cold_end - t_cold,
            "catalog.cache_bytes_written": float(cache_written),
            "functions.python_cpu_s": (py1 - py0) / n,
            "jvm.jit_s": (jit1 - jit0) / n,
            "jvm.gc_s": (gc1 - gc0) / n,
            "jvm.rss_hwm_mb": hwm_mb,
            "host.steal_s": steal1 - steal0,
            "host.utilization": cpu / (wall * nproc),
            "trace.qps": end_to_end["qps"],
            "trace.read_s": read_s,
            "query.samples": float(len(used)),
        }
    )
    for q in {q for qs in WORKLOADS.values() for q in qs} | set(names):
        done = by_query.get(q) or []
        per_layer[f"query.{q}.build_s"] = (
            statistics.median(op.t1 - op.t0 for op in done) if done else 0.0
        )
        per_layer[f"query.{q}.exec_s"] = (
            statistics.median(op.t2 - op.t1 for op in done) if done else 0.0
        )

    spec = load_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else end_to_end
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    log(
        f"{args.workload} seed={args.seed}: {len(passes)} passes, {n} ops in {wall:.2f}s, "
        f"setup {setup_s:.2f}s, steal {steal1 - steal0:.2f}s, jit {jit1 - jit0:.2f}s, "
        f"read {read_s:.2f}s, check {check_s:.2f}s, failed {failed}/{attempted}"
    )
    notes = {
        "jvm.jit_s": jit1 - jit0,
        "host.steal_s": steal1 - steal0,
        "passes": len(passes),
        "passes_used": len(used),
        "pass_s": [round(p.wall, 3) for p in passes],
        "pass_cpu_s": [round(p.cpu, 2) for p in passes],
        "pass_steal_s": [round(p.steal, 2) for p in passes],
        "ops": n,
        "error_rate": failed / attempted,
        "lat_s": {q: [round(op.t2 - op.t0, 4) for op in ops if op.name == q] for q in names},
    }
    print("perfbench-notes " + json.dumps(notes))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 1 if mismatches else 0


def prime(args) -> int:
    """Build the on-disk caches that outlive a process (layout-optimized
    table copies, the logs fixture, derived partsupp, ...) by running
    every query of every workload once. Nothing here is timed."""
    bench_env(args.sf_dir)
    from datafusion_tpc_spark import registry
    from datafusion_tpc_spark.session import get_spark

    spark = get_spark(app_name="perfbench-prime")
    registry.load_all()
    runner = Runner(spark, args.sf_dir, None)
    for name in sorted({q for qs in WORKLOADS.values() for q in qs}):
        runner.run(name)
    spark.stop()
    return 1 if runner.failed else 0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), default="olap")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--queries", help="comma list replacing the workload's (self-test)")
    p.add_argument("--inject-failure", help="query whose ops raise (self-test)")
    p.add_argument("--prime", action="store_true")
    args = p.parse_args()
    return prime(args) if args.prime else measure(args)


if __name__ == "__main__":
    sys.exit(main())

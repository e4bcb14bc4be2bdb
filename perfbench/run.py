"""Closed-loop end-to-end benchmark of the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Each run starts a fresh measured process (perfbench/worker.py: one
``get_spark()`` session, one client, whole passes over the workload's
queries) and passes its output through; the last stdout line is the
JSON result. Before the first run in a checkout an untimed priming
process builds the on-disk caches that outlive a process, so that the
first run's set-up matches the later ones'.

Inputs are the testdata tables (TESTDATA.md) at sf0.1, read from
``$SPARK_GRAFT_SF_DIR`` or ``~/testdata/sf0.1``. Everything the runs
write stays in the checkout: the program's own caches and
``.perfbench_state/`` (Spark local dirs, temp files, priming marker).
"""

from __future__ import annotations

import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

import probes
from worker import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench_state")
PRIME_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# The bench's own launch configuration. Status-store retention is
# raised so that reads after the timed window still see every stage,
# job and SQL execution of it; the program's settings are untouched.
SUBMIT_ARGS = (
    "--conf spark.ui.retainedJobs=100000 "
    "--conf spark.ui.retainedStages=100000 "
    "--conf spark.sql.ui.retainedExecutions=100000 "
    "pyspark-shell"
)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = probes.stat_fields(int(entry))
            if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _run(cmd: list[str], env: dict, timeout: float, capture: bool) -> tuple[int, str]:
    """Run ``cmd`` in its own process group; afterwards stop whatever
    of the group is left (a JVM whose Python died) and wait for it."""
    proc = subprocess.Popen(
        cmd,
        cwd=ROOT,
        env=env,
        stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=timeout)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        print(f"[perfbench] {cmd[2:4]} exceeded {timeout}s", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        code = -1
    deadline = time.time() + 30
    while _group_alive(proc.pid):
        if time.time() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            deadline = time.time() + 30
        time.sleep(0.1)
    return code, out or ""


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR")
                   or os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    p.add_argument("--queries", help="comma list replacing the workload's (self-test)")
    p.add_argument("--inject-failure", help="query whose ops raise (self-test)")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "datafusion_tpc_spark", "registry.py")):
        print("[perfbench] run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(args.sf_dir, "lineitem.parquet")):
        print(f"[perfbench] no testdata at {args.sf_dir}", file=sys.stderr)
        return 2

    local = os.path.join(STATE, "local")
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, TMPDIR=local, SPARK_LOCAL_DIRS=local, PYSPARK_SUBMIT_ARGS=SUBMIT_ARGS)
    worker = [sys.executable, os.path.join(HERE, "worker.py"), "--sf-dir", args.sf_dir]

    # one marker per input directory and query set: a changed workload
    # is primed again
    queries = ",".join(sorted({q for qs in WORKLOADS.values() for q in qs}))
    key = hashlib.md5(f"{os.path.abspath(args.sf_dir)}|{queries}".encode()).hexdigest()[:12]
    marker = os.path.join(STATE, f"primed-{key}")
    if not os.path.exists(marker):
        code, _ = _run(worker + ["--prime"], env, PRIME_TIMEOUT_S, capture=False)
        if code != 0:
            print("[perfbench] priming failed", file=sys.stderr)
            return 3
        open(marker, "w").close()

    cmd = worker + [
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    if args.queries:
        cmd += ["--queries", args.queries]
    if args.inject_failure:
        cmd += ["--inject-failure", args.inject_failure]
    code, out = _run(cmd, env, RUN_TIMEOUT_S, capture=True)
    if code < 0:
        return 3  # killed: no result
    sys.stdout.write(out)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())

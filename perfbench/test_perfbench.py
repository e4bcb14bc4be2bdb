"""Self-test of the benchmark, at sf0.01 on two small queries.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Run from the root of the checkout; takes a few minutes (three Spark
runs, plus priming on first use). The testdata directory comes from
``$SPARK_GRAFT_TEST_SF_DIR`` or ``~/testdata/sf0.01``.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR") or os.path.join(
    os.path.expanduser("~"), "testdata", "sf0.01"
)
QUERIES = ("q_logs_agg", "q_agg_distinct")

sys.path.insert(0, HERE)

needs_data = pytest.mark.skipif(
    not os.path.isfile(os.path.join(SF_DIR, "lineitem.parquet")), reason="no testdata"
)


def _bench(*extra: str, trace: int = 0) -> tuple[int, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", "olap", "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--sf-dir", SF_DIR, "--queries", ",".join(QUERIES),
        *extra,
    ]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = done.stdout.strip().splitlines()
    assert lines, done.stderr[-2000:]
    return done.returncode, json.loads(lines[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@needs_data
@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_printed_with_its_unit(trace, key):
    code, res = _bench(trace=trace)
    assert code == 0
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2 * len(QUERIES)
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(math.isfinite(v["value"]) for v in res["metrics"].values())


@needs_data
def test_failing_op_is_counted_and_the_loop_goes_on():
    code, res = _bench("--inject-failure", QUERIES[1])
    passes = (res["attempted"] - len(QUERIES)) // len(QUERIES)
    # every op of the failing query (cold, warm-up and timed) failed, nothing else
    assert res["failed"] == 1 + passes
    assert not res["correct"]
    m = res["metrics"]
    assert m["success_rate"]["value"] == pytest.approx(1 - res["failed"] / res["attempted"])
    assert m["qps"]["value"] > 0  # the other query kept running
    assert code == 0  # a raised op is not an oracle mismatch


def test_fixed_seed_gives_fixed_order():
    from worker import pass_orders

    names = ("a", "b", "c", "d", "e", "f")
    first = list(itertools.islice(pass_orders(names, 7), 5))
    assert first == list(itertools.islice(pass_orders(names, 7), 5))
    assert first != list(itertools.islice(pass_orders(names, 8), 5))
    assert all(sorted(p) == sorted(names) for p in first)


@needs_data
def test_check_flags_wrong_rows():
    import pyarrow as pa
    import pyarrow.compute as pc
    from check import OracleCheck, oracle_sql
    from datafusion_tpc_spark import registry

    registry.load_all()
    checker = OracleCheck(SF_DIR, "0.01")
    try:
        name = "q_logs_agg"
        rows = checker.con.execute(oracle_sql(name, "0.01")).fetch_arrow_table()
        assert checker.mismatch(name, rows) is None
        assert checker.mismatch(name, rows.slice(1)) is not None
        col = rows.column_names.index("avg_response_size")
        off = rows.set_column(
            col, "avg_response_size", pc.add(rows.column(col), 0.01)
        )
        assert checker.mismatch(name, off) is not None
        # a result without float columns takes the row-hash path
        name = "q_logs_filter"
        rows = checker.con.execute(oracle_sql(name, "0.01")).fetch_arrow_table()
        assert checker.mismatch(name, rows) is None
        pods = rows.column("pod").to_pylist()
        pods[0] = pods[0] + "x"
        off = rows.set_column(rows.column_names.index("pod"), "pod", pa.array(pods))
        assert checker.mismatch(name, off) is not None
    finally:
        checker.close()

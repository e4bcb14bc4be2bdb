"""Tungsten memory pages are sized to the task, not to the JVM heap.

Spark's default ``spark.buffer.pageSize`` is execution memory / cores /
16, capped at 64 MiB: under the 24g session every sorting, aggregating
or broadcast-probing task took at least one 64 MiB page however few
rows it held. ``session.get_spark`` sets 4 MiB pages, so a task's
execution memory grows one small page at a time."""

from __future__ import annotations

import pytest

from datafusion_tpc_spark import registry
from tests.conftest import SF_DIR, jobs_launched

registry.load_all()

_PAGE_BOUND_MB = 8


def _completed_stages(spark, group: str, run) -> list[tuple[int, int, float]]:
    """(stage id, numTasks, peakExecutionMemory MiB) of every completed
    stage of the jobs ``run()`` launches under job group ``group``. A
    stage's peak is the sum of its tasks' peaks."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids = {
        s for j in jobs_launched(spark, group, run) for s in tracker.getJobInfo(j).stageIds
    }
    store = spark._jsc.sc().statusStore()
    out = []
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if str(st.status()) == "COMPLETE":
            out.append((sid, st.numTasks(), st.peakExecutionMemory() / 2**20))
    return out


@pytest.mark.parametrize("name", ["q_win_rank", "q_join_inner"])
def test_task_peak_memory_is_page_bounded(spark, name):
    """Every completed stage of the window rank and the broadcast join
    holds at most 8 MiB of execution memory per task. With 64 MiB pages
    each sorting or broadcast-probing task charged at least 64 MiB."""
    stages = _completed_stages(
        spark, f"pages-{name}", lambda: registry.QUERIES[name](spark, SF_DIR).collect()
    )
    # not vacuous: some stage sorted or probed a broadcast
    assert any(peak > 0 for _, _, peak in stages), stages
    over = [s for s in stages if s[2] > s[1] * _PAGE_BOUND_MB]
    assert not over, f"{name}: (stage, tasks, peak MiB) over the bound: {over}"

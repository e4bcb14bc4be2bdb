"""Counters the benchmark reads from outside the program.

- ``/proc``: CPU of the benchmark's process tree (bench Python, the
  JVM, the pyspark daemon and its workers), host steal time, process
  start time and the JVM's peak RSS.
- JMX through py4j: JIT compile time and GC time of the driver JVM.
- Spark's own status stores (``AppStatusStore`` for jobs and stages,
  ``SQLAppStatusStore`` for SQL executions and their plan metrics),
  read through py4j and serialized to JSON by the JVM's Jackson, so a
  read costs a few calls instead of one per field.
"""

from __future__ import annotations

import json
import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = stat_fields(int(entry))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cpu_ticks(fields: list[str]) -> int:
    # utime stime cutime cstime: cutime/cstime hold reaped children,
    # so pyspark workers that already exited still count
    return sum(int(x) for x in fields[11:15])


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree_cpu(root: int) -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of its pyspark
    daemon/worker processes)."""
    total = python = 0
    for pid in process_tree(root):
        fields = stat_fields(pid)
        if fields is None:
            continue
        ticks = _cpu_ticks(fields)
        total += ticks
        cmd = _cmdline(pid)
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            python += ticks
    return total / CLK_TCK, python / CLK_TCK


def host_steal_s() -> float:
    """Steal time summed over the host's CPUs, in seconds."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def process_start_epoch(pid: int) -> float:
    """Wall-clock time at which ``pid`` started (10 ms resolution)."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(stat_fields(pid)[19]) / CLK_TCK


def rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(paths: list[str]) -> int:
    """Total size of the regular files under ``paths``."""
    total = 0
    for top in paths:
        for dirpath, _dirs, files in os.walk(top):
            for name in files:
                try:
                    total += os.lstat(os.path.join(dirpath, name)).st_size
                except OSError:
                    pass  # removed while walking
    return total


# --- JVM ---------------------------------------------------------------


class Jvm:
    """JMX counters of the driver JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


# --- Spark status stores -------------------------------------------------

_UNIT = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}


def parse_metric(text: str) -> float | None:
    """Total of one formatted SQL metric value, in bytes, seconds or
    plain counts. Spark formats them as ``1,234``, ``12.5 MiB``,
    ``3 ms`` or, when several tasks reported,
    ``total (min, med, max (stageId: taskId))\\n<total> (...)``.
    Averages (no total) give None."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    elif text.startswith("("):
        return None
    parts = text.split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return None
    return value * _UNIT[parts[1]] if len(parts) > 1 else value


class StatusStore:
    """Jobs, stages and SQL executions as Spark's listeners recorded
    them. Reads return plain dicts; the caller attributes them to ops
    by submission time, so a read after the timed window sees every op
    as long as retention holds them (the launcher raises retention)."""

    def __init__(self, spark):
        jvm = spark._jvm
        sc = spark._jsc.sc()
        # listener events are delivered asynchronously: wait until the
        # store has seen the end of every job that already returned
        sc.listenerBus().waitUntilEmpty(60_000)
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = spark.sparkContext._gateway.new_array(jvm.double, 0)
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala, "MODULE$"))

    def _dump(self, obj):
        return json.loads(self._json.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._dump(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        return self._dump(self._store.stageList(None, False, False, self._empty, None))

    def executions(self, since_ms: int) -> list[dict]:
        """SQL executions submitted at or after ``since_ms``, each with
        its plan metrics summed by name."""
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.submissionTime() < since_ms:
                continue
            names = {
                m["accumulatorId"]: m["name"] for m in self._dump(e.metrics())
            }
            metrics: dict[str, float] = {}
            for acc, text in self._dump(self._sql.executionMetrics(e.executionId())).items():
                name = names.get(int(acc))
                value = parse_metric(text) if name else None
                if value is not None:
                    metrics[name] = metrics.get(name, 0.0) + value
            out.append({"submitted": e.submissionTime(), "metrics": metrics})
        return out

"""The catalog cache primitives every derived cache and size gate goes
through: source_fingerprint, data_bytes / small_table (the scale
gate), materialize (the shared-cache build path) and run_dir (the
sinks' per-execution directories). Filesystem-only — no Spark session
needed."""

from __future__ import annotations

import os
import re
import signal
import subprocess
import sys
import threading
import time

import pytest

from datafusion_tpc_spark.catalog import (
    READY,
    SMALL_TABLE_BYTES,
    data_bytes,
    materialize,
    run_dir,
    small_table,
    source_fingerprint,
)


def _write(path: str, nbytes: int) -> None:
    with open(path, "wb") as f:
        f.write(b"x" * nbytes)


def test_directory_shaped_table_sizes_and_fingerprint(tmp_path):
    """A `<t>.parquet` that is a DIRECTORY of part files: the walker
    sums the parts (os.path.getsize reported the inode's 4096 bytes,
    so every gate took the small branch at any scale), a sparse part
    past 1 GiB makes the gate answer not-small, a missing table is
    not-small, and an in-place part rewrite re-keys the fingerprint."""
    sf = tmp_path / "sf"
    table = sf / "t.parquet"
    table.mkdir(parents=True)
    _write(str(table / "part-00000.parquet"), 1000)
    _write(str(table / "part-00001.parquet"), 2345)
    (table / "_SUCCESS").touch()
    assert data_bytes(str(table)) == 3345
    assert small_table(str(sf), "t")

    fp_before = source_fingerprint(str(table))
    part = table / "part-00000.parquet"
    _write(str(part), 1000)  # same size, rewritten in place
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert source_fingerprint(str(table)) != fp_before

    with open(table / "part-00002.parquet", "wb") as f:
        f.truncate(SMALL_TABLE_BYTES + 1)  # sparse: no real disk used
    assert data_bytes(str(table)) > SMALL_TABLE_BYTES
    assert not small_table(str(sf), "t")

    assert not small_table(str(sf), "missing")

    plain = sf / "p.parquet"
    _write(str(plain), 77)
    st = os.stat(plain)
    assert source_fingerprint(str(plain)) == f"{st.st_mtime_ns}:{st.st_size}"
    assert data_bytes(str(plain)) == 77


def _fill(tmp: str) -> None:
    for i in range(3):
        _write(os.path.join(tmp, f"part-{i}"), 10)


def test_materialize_failed_build_publishes_nothing(tmp_path):
    root = str(tmp_path)

    def boom(tmp: str) -> None:
        _write(os.path.join(tmp, "part-0"), 10)
        raise RuntimeError("build died mid-write")

    with pytest.raises(RuntimeError, match="mid-write"):
        materialize(root, "tag-fp", boom)
    assert os.listdir(root) == []  # no published dir, no tmp leftover

    path = materialize(root, "tag-fp", _fill)
    assert path == os.path.join(root, "tag-fp")
    assert sorted(os.listdir(path)) == [READY, "part-0", "part-1", "part-2"]


def test_materialize_rebuilds_markerless_dir(tmp_path):
    """A directory at <root>/<key> without the ready marker is an
    interrupted or legacy build: it is removed and rebuilt, never
    served."""
    root = str(tmp_path)
    stale = tmp_path / "tag-fp"
    stale.mkdir()
    _write(str(stale / "part-0"), 3)  # half-written leftover
    _write(str(stale / "junk"), 3)
    path = materialize(root, "tag-fp", _fill)
    assert sorted(os.listdir(path)) == [READY, "part-0", "part-1", "part-2"]
    assert os.path.getsize(os.path.join(path, "part-0")) == 10


def test_materialize_concurrent_cold_builds_once(tmp_path):
    """More racing threads than cores on a cold key: the key lock makes
    the marker check + build + publish one critical section, so the
    build runs exactly once and every caller gets the published dir."""
    root = str(tmp_path)
    n = 8
    calls = []

    def slow(tmp: str) -> None:
        calls.append(tmp)
        time.sleep(0.05)
        _fill(tmp)

    start = threading.Barrier(n)
    paths = []

    def run():
        start.wait()
        paths.append(materialize(root, "tag-fp", slow))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert paths == [os.path.join(root, "tag-fp")] * n
    assert os.listdir(root) == ["tag-fp"]


def test_materialize_recovers_from_killed_builder(tmp_path):
    """A builder process SIGKILLed inside ``build`` leaves its
    ``<key>.<8 hex>`` dir half written and nothing published. The next
    call builds and publishes a complete copy with the ready marker,
    and the orphaned build dir gets its ``.superseded`` marker from the
    two-phase prune (shared cache dirs are built by whichever process
    comes first, so a killed first process must not wedge the rest)."""
    root = str(tmp_path)
    started = tmp_path / "started"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = f"""
import os, sys, time
sys.path.insert(0, {repo!r})
from datafusion_tpc_spark.catalog import materialize

def build(tmp):
    with open(os.path.join(tmp, "part-0"), "wb") as f:
        f.write(b"x" * 10)
    open({str(started)!r}, "w").close()
    time.sleep(600)

materialize({root!r}, "tag-fp", build)
"""
    proc = subprocess.Popen([sys.executable, "-c", child])
    try:
        deadline = time.time() + 120
        while not started.exists():
            assert proc.poll() is None, "builder exited before the kill"
            assert time.time() < deadline, "builder never started"
            time.sleep(0.05)
        os.kill(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    started.unlink()
    [orphan] = [e for e in os.listdir(root) if re.fullmatch(r"tag-fp\.[0-9a-f]{8}", e)]
    assert os.listdir(os.path.join(root, orphan)) == ["part-0"]

    path = materialize(root, "tag-fp", _fill)
    assert path == os.path.join(root, "tag-fp")
    assert sorted(os.listdir(path)) == [READY, "part-0", "part-1", "part-2"]
    assert sorted(os.listdir(root)) == sorted(
        ["tag-fp", orphan, orphan + ".superseded"]
    )


def test_run_dir_reclaims_dead_owners_at_once(tmp_path):
    """run_dir names runs ``<pid>-<uuid>``. A run of a dead process is
    reclaimed on the next call whatever its age; a run of a live
    process, or a name without a PID, only past the 6 h age gate; a
    name held in ``live`` never. The new name is held only inside the
    block."""
    root = str(tmp_path)
    old = time.time() - 7 * 3600
    entries = {
        "999999999-dead": None,  # beyond any pid_max: never alive
        f"{os.getpid()}-fresh": None,
        f"{os.getpid()}-old": old,
        "1-old-but-held": old,  # PID 1 is always alive
        "legacyuuid": None,
        "123456789012": None,  # a legacy all-digit uuid is no PID
        "legacyold": old,
    }
    for name, mtime in entries.items():
        os.makedirs(os.path.join(root, name))
        if mtime is not None:
            os.utime(os.path.join(root, name), (mtime, mtime))
    live = {"1-old-but-held"}
    with run_dir(root, live) as path:
        run = os.path.basename(path)
        assert re.fullmatch(rf"{os.getpid()}-[0-9a-f]{{12}}", run), run
        assert run in live
        assert not os.path.exists(path)  # reserved; the caller writes it
    assert live == {"1-old-but-held"}
    assert sorted(os.listdir(root)) == sorted(
        ["1-old-but-held", f"{os.getpid()}-fresh", "legacyuuid", "123456789012"]
    )

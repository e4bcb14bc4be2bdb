"""Table registration — the Spark analog of the reference's
``ctx.register_parquet("logs", path, ParquetReadOptions::default()
.parquet_pruning(true))`` (reference benches/query.rs:35-40) and
``ctx.read_parquet`` (reference src/main.rs:45).

Schema comes from Parquet footers, exactly like the reference; the one
normalization we apply is the ``events.ts`` column, which has shipped
as BOTH timestamp[ns] and timestamp[us] across driver testdata drops
(FIXTURES.md §9). We probe the loaded dtype: ns files surface as long
(``spark.sql.legacy.parquet.nanosAsLong``) and are truncated to
microseconds — the same truncation DuckDB applies when casting
TIMESTAMP_NS → TIMESTAMP — while µs files read natively. The
streaming twin of this probe is
``streaming/stream_queries._events_streaming`` (footer-level, since
streaming sources need the schema up front).

Scale note: at 100 TB these reads hit a distributed store via the
Hadoop FS layer; nothing here is local-mode-specific. Registration is
metadata-only (footer reads), no data motion.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

from datafusion_tpc_spark.session import configure_runtime

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def sanitized_sf_tag(sf_dir: str) -> str:
    """Identifier- AND path-safe tag for an sf_dir — the SINGLE
    implementation shared by every module deriving SQL table names or
    cache directory names from the corpus path (bucketing, layout,
    ivf_served). The raw rsplit('sf') remainder is kept for the
    driver's sf* dirs (preserves pre-r11 table names and cache keys:
    '0.01' → '0_01'), but sanitized to [0-9A-Za-z_]: an arbitrary
    corpus path (no 'sf' segment → the WHOLE path, absolute) would
    otherwise leak '/' into a saveAsTable identifier (ParseException)
    and — worse — make os.path.join(CACHE_ROOT, tag) DISCARD the
    cache root and write outside it (the r11 degenerate sweep's
    committed-junk incident). The fix was first pasted per-site and
    the third copy got missed (review r11) — change it HERE only."""
    import re

    raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return re.sub(r"[^0-9A-Za-z_]", "_", raw) or "root"


def cpu_width(spark: SparkSession, floor: int = 8) -> int:
    """Parallelism for CPU-dense, byte-light fan-out stages (the
    explicit-width family: prefix verify, per-cluster GEMM, chunk
    hashing, sketch partitions). r16 (optimization round): these were
    hard-coded ``repartition(32)`` — correct on the local[32] bench
    box, wrong everywhere else, and they distorted the driver's
    lower-core scaling runs (a local[8] session still fanned to 32
    tasks). ``defaultParallelism`` is the LIVE session's core budget
    (local[k] → k; cluster → total executor cores), so the width now
    tracks whatever session the driver passes. The floor keeps the
    multi-partition code paths exercised even on tiny sessions."""
    try:
        return max(floor, spark.sparkContext.defaultParallelism)
    except Exception:
        return max(floor, 8)


# Session-scoped table memo (r16): spark.read.parquet costs ~125 ms
# of driver-side schema/footer work per table and every query callable
# re-loads its tables at call time, so an N-query session paid
# O(N × tables) of pure re-analysis (the driver's 50-query correctness
# pass ~45 s, a full 304-query mirror ~4 min). DataFrames are
# immutable lazy plans — one per (session, table, file fingerprint) is
# semantically identical to one per call. The memo dict is ATTACHED TO
# THE SESSION OBJECT (not held in a module global): its lifetime is
# exactly the session's, and the spark→memo→DataFrame→spark loop is a
# plain reference cycle the gc collects when the session is dropped.
# (A WeakKeyDictionary keyed by the session does NOT work here — the
# memoized DataFrames strongly reference their session, so the value
# chain roots the key and the entry never evicts; r16 review.)
_MEMO_LOCK = threading.Lock()


def _session_store(spark: SparkSession, attr: str) -> dict:
    """The session-attached memo dict. Callers hold _MEMO_LOCK."""
    store = getattr(spark, attr, None)
    if store is None:
        store = {}
        setattr(spark, attr, store)
    return store


def _source_fingerprint(src: str):
    """(mtime_ns, size) of a file source; for a directory-shaped table
    the direct children are folded in (an in-place part-file rewrite
    does not bump the directory's own mtime). None = unverifiable —
    the caller must NOT memoize."""
    try:
        st = os.stat(src)
    except OSError:
        return None
    if not os.path.isdir(src):
        return (st.st_mtime_ns, st.st_size)
    try:
        entries = tuple(
            sorted(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                for e in os.scandir(src)
            )
        )
    except OSError:
        return None
    return ("dir", st.st_mtime_ns, entries)


def source_fingerprint(src: str) -> str:
    """The state string every derived cache key and catalog table name
    is built from — the ONE source fingerprint in the package. A file
    gives exactly ``f"{mtime_ns}:{size}"`` (the format every existing
    key was derived from, so keys stay byte-identical); a
    directory-shaped table gives a digest over its part files
    (_source_fingerprint), so an in-place part rewrite re-keys too
    — the directory's own stat does not move when a child is
    rewritten. Raises OSError for a missing source."""
    if not os.path.isdir(src):
        st = os.stat(src)
        return f"{st.st_mtime_ns}:{st.st_size}"
    fp = _source_fingerprint(src)
    if fp is None:
        raise FileNotFoundError(src)
    return "dir:" + hashlib.md5(repr(fp).encode()).hexdigest()[:16]


def data_bytes(path: str) -> float:
    """On-disk bytes of a file, or the sum of a directory's data files
    (recursively; ``_``/``.``-prefixed names are Spark/Hadoop metadata
    and skipped). Unreadable → ``inf``: a size that cannot be read
    counts as LARGE, so no gate forces a broadcast it cannot justify.
    (``os.path.getsize`` on a directory-shaped table returns the
    directory inode's 4096 bytes — the bug this walker replaces.)"""

    def _fail(err: OSError):
        raise err

    try:
        if not os.path.isdir(path):
            return os.stat(path).st_size
        total = 0
        for d, subdirs, files in os.walk(path, onerror=_fail):
            subdirs[:] = [s for s in subdirs if not s.startswith(("_", "."))]
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.stat(os.path.join(d, f)).st_size
        return total
    except OSError:
        return float("inf")


SMALL_TABLE_BYTES = 1 << 30


def small_table(sf_dir: str, table: str) -> bool:
    """The ONE scale gate: is ``<sf_dir>/<table>.parquet`` under
    SMALL_TABLE_BYTES of data? Callers keep an explicit broadcast (or
    a byte-light fan-out) only below it; past it the hint drops and
    the planner/AQE decide. README "Scale gates" lists every caller."""
    return data_bytes(os.path.join(sf_dir, f"{table}.parquet")) < SMALL_TABLE_BYTES


def memo_read(spark: SparkSession, src: str, read, *key) -> DataFrame:
    """The ONE per-session read memo: ``read()`` runs once per
    (session, src, key, source fingerprint) and later calls return the
    SAME DataFrame object (no schema inference, no Spark job). ``key``
    carries whatever else selects the read (e.g. the opt-cache flag).
    A source that cannot be fingerprinted is read every time. The
    first concurrent reader's DataFrame wins, so racing callers agree
    on one object (and register_view never flip-flops between them)."""
    fp = _source_fingerprint(src)
    memo_key = (src, *key, fp)
    if fp is not None:
        with _MEMO_LOCK:
            df = _session_store(spark, "_dftpc_table_memo").get(memo_key)
        if df is not None:
            return df
    df = read()
    if fp is not None:
        with _MEMO_LOCK:
            df = _session_store(spark, "_dftpc_table_memo").setdefault(memo_key, df)
    return df


def register_view(spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
    """The ONE session temp-view registration: createOrReplaceTempView
    costs ~50 ms of analysis, so ``name`` is re-registered only when
    the DataFrame under it CHANGED for this session (new sf_dir,
    flipped opt flag, a testdata swap — memo_read's key covers all
    three). The check-register-record triple runs under _MEMO_LOCK so
    the view memo can never disagree with the live temp view under
    concurrent callers (r16 review: unlocked, two racing registrations
    could leave the memo pointing at the loser and a later call would
    skip the healing re-register). Precondition: every view name
    passed here is registered ONLY through this function."""
    with _MEMO_LOCK:
        views = _session_store(spark, "_dftpc_view_memo")
        if views.get(name) is not df:
            df.createOrReplaceTempView(name)
            views[name] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes events.ts ns→µs timestamp.

    With SPARK_GRAFT_OPT_CACHE=1 (bench path) the read goes through
    the layout-optimized copy (fixtures/optimize.py): identical rows,
    row groups sized so scans parallelize across cores.

    Memoized per (session, source, opt-flag, source fingerprint) by
    memo_read. configure_runtime still runs on every call (it is the
    driver-session contract hook, ~3 ms)."""
    configure_runtime(spark)
    src = f"{sf_dir}/{name}.parquet"
    opt = os.environ.get("SPARK_GRAFT_OPT_CACHE") == "1"

    def read() -> DataFrame:
        path = src
        if opt:
            from fixtures.optimize import ensure_optimized

            path = ensure_optimized(sf_dir, name)
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # ns epoch → µs timestamp. Integer DIV, not floor(x/1000):
            # double division loses precision at 1e18 ns. Truncation
            # matches DuckDB's TIMESTAMP_NS → TIMESTAMP cast.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df

    return memo_read(spark, src, read, opt)


# How long a cache or run directory is kept after it stops being live:
# longer than any realistic run (the driver flags a stall at 1 h, full
# pytest+bench is <30 min). A reader that outlives it is unsupported.
_READER_MAX_AGE_S = 6 * 3600


def pid_alive(pid: int) -> bool:
    """Is a cache/run dir's owning process still running? Used by the
    streaming run-dir pruners (ADVICE r14) and ``run_dir``: a dir name
    embeds its creator's PID so a concurrent process (a correctness
    rehearsal alongside the bench) never rmtree's another's in-flight
    checkpoint mid-stream. kill(pid, 0) probes without signaling; EPERM means
    alive-but-other-user."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


@contextlib.contextmanager
def run_dir(root: str, live: set[str]):
    """Reserve a fresh ``<root>/<pid>-<uuid>`` directory path for one
    sink execution, holding its name in ``live`` for the block's
    duration. The caller writes there and returns a lazy read of it.

    First, reclaim earlier runs. A run whose owning PID is dead goes at
    once: nobody holds a read of it. A run of a live process (this one
    included) that is not in ``live`` goes only once older than
    ``_READER_MAX_AGE_S`` (6 h). That age gate protects a DataFrame the
    run returned and a caller may still collect, as in
    ``prune_stale_cache_dirs``. A name without a PID prefix is also
    age-gated."""
    import shutil
    import time
    import uuid

    cutoff = time.time() - _READER_MAX_AGE_S
    try:
        runs = os.listdir(root)
    except OSError:
        runs = []
    for name in runs:
        if name in live:
            continue
        path = os.path.join(root, name)
        pid, dash, _ = name.partition("-")
        if not (dash and pid.isdigit() and not pid_alive(int(pid))):
            try:
                if os.path.getmtime(path) >= cutoff:
                    continue
            except OSError:
                continue
        shutil.rmtree(path, ignore_errors=True)
    run = f"{os.getpid()}-{uuid.uuid4().hex[:12]}"
    live.add(run)
    try:
        yield os.path.join(root, run)
    finally:
        live.discard(run)


def prune_stale_cache_dirs(
    root: str,
    live_key: str,
    *,
    prune_legacy: bool = False,
    extra: tuple[str, ...] = (),
) -> None:
    """Reclaim superseded fingerprint cache entries (dirs OR files)
    for live_key's sf-tag prefix (ADVICE r6: every testdata drop that
    replaces a source parquet would otherwise leak a full derived
    copy forever). The ONE pruning implementation for every
    `<tag>-<fingerprint>` cache in the repo (every materialize and
    session_table cache, the layout-optimized bench copies) — review
    r7 found the age-gate logic duplicated and drifting.

    Two-phase supersession marking (review r7 #2): an entry's own
    mtime is its BUILD time, so age-gating on it would delete a
    just-superseded-but-old entry out from under a concurrent reader.
    Instead, the first prune call after supersession drops a 0-byte
    `<name>.superseded` marker; the entry is removed only once the
    MARKER is older than _READER_MAX_AGE_S (6 h). Callers invoke
    this right after building a new fingerprint, so each stale entry
    survives until the second build event ≥ 6 h later — the leak is bounded at ~2 superseded
    copies per cache, and a reader that outlives 6 h across a
    testdata swap is unsupported.

    `extra` names additional exact entries to treat as superseded
    (e.g. a legacy un-fingerprinted file name); `prune_legacy`
    sweeps any dash-less sibling (the partsupp pre-tag key format).
    """
    import shutil
    import time

    prefix = live_key.split("-", 1)[0] + "-"
    cutoff = time.time() - _READER_MAX_AGE_S
    try:
        sibs = os.listdir(root)
    except OSError:
        return
    live = {live_key}
    for sib in sibs:
        p = os.path.join(root, sib)
        if sib.endswith(".superseded"):
            # orphaned marker (its target already reclaimed or renamed
            # away, e.g. a writer's tmp that got published)
            if sib[: -len(".superseded")] not in sibs:
                try:
                    os.remove(p)
                except OSError:
                    pass
            continue
        if sib in live:
            continue
        if not (
            sib.startswith(prefix)
            or (prune_legacy and "-" not in sib)
            or sib in extra
        ):
            continue
        marker = p + ".superseded"
        try:
            if os.path.exists(marker):
                if os.path.getmtime(marker) < cutoff:
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                    os.remove(marker)
            else:
                with open(marker, "w"):
                    pass
        except OSError:
            pass


# One build lock per cache key / catalog table name, not per module:
# a builder may call another builder (the upserted IVF index needs the
# full index's codebook) without nesting one non-reentrant lock, and
# unrelated caches never serialize behind each other.
_KEY_LOCKS: dict[tuple, threading.Lock] = {}


def _key_lock(*key) -> threading.Lock:
    with _MEMO_LOCK:
        return _KEY_LOCKS.setdefault(key, threading.Lock())


READY = "_READY"


def materialize(root: str, key: str, build, **prune) -> str:
    """The ONE build path for a derived cache shared across processes;
    returns ``<root>/<key>``. ``key`` is ``<prefix>-<fingerprint>``
    (the prefix names the cache family per sf_dir, the fingerprint is
    derived from source_fingerprint plus the recipe constants).

    Published = the directory exists AND holds the READY marker. A
    directory at ``<root>/<key>`` without it is an interrupted or
    legacy build and is removed. Otherwise ``build(tmp)`` fills a fresh
    ``<key>.<uuid>`` directory (it may write content into the marker,
    which is only ever appended to), the marker is written and the
    directory is atomically renamed into place; a process that loses
    the rename race discards its copy. In-process threads serialize on
    the key's lock, so a cold key builds exactly once per process. A
    failed build removes its tmp and re-raises. Last, the two-phase
    prune (``prune`` is passed through) reclaims superseded
    fingerprints of the same prefix — and orphaned ``<key>.<uuid>``
    dirs of killed builders, which share that prefix."""
    import shutil
    import uuid

    path = os.path.join(root, key)
    ready = os.path.join(path, READY)
    if os.path.exists(ready):
        return path
    with _key_lock(root, key):
        if os.path.exists(ready):
            return path
        shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        try:
            build(tmp)
            open(os.path.join(tmp, READY), "a").close()
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.replace(tmp, path)
        except OSError:
            # lost the rename race to a concurrent process: its
            # published copy serves, ours was spare
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(ready):
                raise
        prune_stale_cache_dirs(root, key, **prune)
    return path


def session_table(
    spark: SparkSession, root: str, name: str, dir_key: str, build
) -> str:
    """The ONE build path for a per-session bucketed catalog table
    (bucketBy needs saveAsTable, so the catalog entry is per-session
    and rebuilt lazily by a foreign session); returns ``name``.

    Under ``name``'s lock, when the session has no such table,
    ``build(d)`` writes it (saveAsTable with ``.option("path", ...)``
    under ``d``) into ``d = <root>/<dir_key>-<pid>`` — per-PID, so two
    processes never interleave writes under one path. Publish guard:
    if the build fails after a first saveAsTable already registered
    the table (a base write followed by an ingest append), the table
    is dropped, so no later call in the session serves a half-built
    index; the DROP is best effort and the ORIGINAL error always
    propagates. Superseded ``<dir_key prefix>-`` dirs are then
    reclaimed by the two-phase prune."""
    with _key_lock("table", name):
        if not spark.catalog.tableExists(name):
            dir_key = f"{dir_key}-{os.getpid()}"
            try:
                build(os.path.join(root, dir_key))
            except BaseException:
                try:
                    spark.sql(f"DROP TABLE IF EXISTS {name}")
                except Exception:
                    pass
                raise
            prune_stale_cache_dirs(root, dir_key)
    return name


_PARTSUPP_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache",
    "partsupp",
)


def partsupp_dir(spark: SparkSession, sf_dir: str) -> str:
    """The derived partsupp table (tpch_full.py module docstring),
    MATERIALIZED once per (sf_dir, lineitem fingerprint) instead of
    re-aggregated inside every execution of TPC-H q2/q9/q11/q16/q20
    (VERDICT r5 item 3: the per-query derivation made q_tpch_q9 the
    suite's worst contention amplifier — 20.16 s under 12-concurrent
    while 0.69 s serial, BASELINE.md); returns its directory.

    This is exactly what a 100 TB deployment does: partsupp is a
    persisted derived table maintained by the ingest pipeline, not a
    per-query CTE. Values are bit-stable across the persist hop: MIN
    is order-independent, SUM(l_quantity) sums integral-valued doubles
    exactly, and parquet round-trips doubles losslessly — so the
    DuckDB oracles keep deriving the CTE inline and still hash-match.

    Cache key = <md5(sf_dir)>-<md5(lineitem fingerprint)>; legacy
    un-prefixed keys predate this format and are pruned too."""
    configure_runtime(spark)
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp = hashlib.md5(
        source_fingerprint(os.path.join(sf_dir, "lineitem.parquet")).encode()
    ).hexdigest()[:12]

    def build(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        ).agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ps_supplycost"
            ),
            F.sum("l_quantity").alias("ps_availqty"),
        ).write.mode("overwrite").parquet(tmp)

    return materialize(_PARTSUPP_CACHE, f"{sf_tag}-{fp}", build, prune_legacy=True)


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = partsupp_dir(spark, sf_dir)
    return memo_read(spark, path, lambda: spark.read.parquet(path))


def register_tables(
    spark: SparkSession, sf_dir: str, *names: str
) -> dict[str, DataFrame]:
    """Register the named testdata tables (all TABLES when none are
    named) as temp views (in-memory session catalog — reference
    benches/query.rs:35 registers its one table the same way) through
    register_view, so a repeat call with the same sf_dir re-registers
    nothing. Returns name → DataFrame."""
    return {
        name: register_view(spark, name, load_table(spark, sf_dir, name))
        for name in names or TABLES
    }

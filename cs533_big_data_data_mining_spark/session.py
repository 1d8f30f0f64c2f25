"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the conf is written so the same code
runs unchanged on a multi-executor cluster (AQE, Arrow, sensible
shuffle partitioning). Nothing here is local-mode-specific except the
master URL, which callers override in production.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import weakref
import zipfile
import zipimport

from pyspark.sql import SparkSession


def _skip_unchanged_zip_rereads(invalidate):
    """Wrap ``zipimporter.invalidate_caches`` so an importer re-reads its
    archive's directory only when the archive's ``(st_mtime_ns,
    st_size)`` differs from the values at that importer's last read.

    A changed or missing archive, and an importer not yet seen by the
    wrapper, still go through ``invalidate``. The stat is taken before
    the read, so a write that races the read shows up as a change next
    time.
    """
    read_at: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is not None and read_at.get(self) == sig:
            return
        invalidate(self)
        read_at[self] = sig

    invalidate_caches.__wrapped__ = invalidate
    return invalidate_caches


def _install_worker_import_guard() -> None:
    """Stop PySpark workers re-reading unchanged zip archives every task.

    Each task starts with ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). On Python 3.11 that
    re-parses, in pure Python, the central directory of every archive
    a zipimporter has opened: the spark-core jar (5,359 entries),
    ``pyspark.zip``, py4j and this package's zip, through 17-22
    importers: 0.15-0.23 s of CPU per task on a 4-core VM, whatever
    the task does. Installed once per worker process, when the package
    is first imported there; the driver keeps the original method.
    """
    from pyspark import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return
    cls = zipimport.zipimporter
    if not hasattr(cls.invalidate_caches, "__wrapped__"):
        cls.invalidate_caches = _skip_unchanged_zip_rereads(cls.invalidate_caches)


def _package_zip() -> str:
    """Zip this package so ``addPyFile`` can ship it to executors.

    Local mode spawns Python workers from the JVM, and on a real
    cluster executors live on other hosts — either way the package
    must travel with the session, not rely on the driver's cwd.

    The zip is named by a hash of the packaged sources and written
    once: a temp file renamed into place, skipped when the file
    exists. Sessions on one host therefore never rewrite an archive
    that another session's workers import from, and an unchanged
    archive keeps its mtime, so workers need not re-read it.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    sources = sorted(
        os.path.join(dirpath, fn)
        for dirpath, _dirnames, filenames in os.walk(pkg_dir)
        for fn in filenames
        if fn.endswith(".py")
    )
    digest = hashlib.sha256()
    for full in sources:
        with open(full, "rb") as f:
            digest.update(os.path.relpath(full, root).encode() + b"\0" + f.read() + b"\0")
    out = os.path.join(tempfile.gettempdir(), f"cs533_big_data_data_mining_spark-{digest.hexdigest()[:16]}.zip")
    if os.path.exists(out):
        return out
    fd, tmp = tempfile.mkstemp(suffix=".zip.tmp", dir=os.path.dirname(out))
    try:
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w", zipfile.ZIP_STORED) as zf:
            for full in sources:
                zf.write(full, os.path.relpath(full, root))
        os.chmod(tmp, 0o644)  # mkstemp's 0600 would hide it from other users' sessions
        os.replace(tmp, out)
    except BaseException:
        os.unlink(tmp)
        raise
    return out


def _start_time(pid: int) -> str | None:
    """Start time of process ``pid`` in clock ticks since boot, or None
    when no such process is running (Linux ``/proc``)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # field 22; the command name in parentheses may itself hold spaces
    return stat.rsplit(")", 1)[1].split()[19]


def _process_scratch(base: str) -> str:
    """This process's own scratch dir under ``base``, named
    ``<pid>-<start time>``.

    A JVM that dies leaves its ``blockmgr-*`` shuffle files behind, and
    on tmpfs they hold RAM until removed. So before creating its own
    dir, a session deletes every sibling named for a process that is
    gone: the pid is not running, or it now belongs to a process that
    started at another time. Entries of any other name are left alone.
    """
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        pid, _, start = name.partition("-")
        if pid.isdigit() and start and _start_time(int(pid)) != start:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    me = os.getpid()
    d = os.path.join(base, f"{me}-{_start_time(me)}")
    os.makedirs(d, exist_ok=True)
    return d


def _local_dir() -> str:
    """Scratch dir for shuffle/spill files: ``SPARK_GRAFT_LOCAL_DIR``,
    else this process's own dir on tmpfs if present."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return _process_scratch(os.path.join(shm, "spark-local"))
    return tempfile.gettempdir()


def get_spark(
    app_name: str = "cs533_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE is on so skewed cells / small shuffles re-plan at runtime;
    Arrow is on because every custom kernel is a Pandas UDF.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    # AQE splits genuinely large partitions (skew join) and coalesces
    # small ones, cached frames included (conf below), so a generous
    # initial count costs little per reduce stage
    shuffle_partitions = shuffle_partitions or max(cpus, 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark keeps a cached plan's output partitioning by default, so
        # AQE may not coalesce a cache built after a shuffle: it keeps
        # all shuffle_partitions partitions, and every later scan of it
        # (the PPJoin ordered-docs cache, the connected-components edge
        # cache) runs that many near-empty tasks. Let AQE coalesce them.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # shuffle/spill files: executor threads serialize on shuffle
        # index-file commits, so a slow local disk stalls every map
        # stage (threads sit BLOCKED in writeMetadataFileAndCommit).
        # Use memory-backed storage when available; on a real cluster
        # point SPARK_GRAFT_LOCAL_DIR at the fast local SSDs.
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver's events table carries TIMESTAMP(NANOS) parquet
        # timestamps, which vanilla Spark rejects; read them as longs
        # and convert explicitly (streaming/events.load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE posts a full plan DESCRIPTION string to the listener bus
        # on every re-optimization; for queries with large expression
        # trees the driver burned ~70 s CPU in Expression.toString per
        # fit (jstack: AdaptiveSparkPlanExec -> BinaryOperator.toString).
        # 256 KB keeps explain() complete for every sane plan while
        # bounding the stringification of pathological ones (display
        # only — no effect on results).
        .config("spark.sql.maxPlanStringLength", str(256 * 1024))
        # Whole-stage-codegen class cache (default 100 entries, LRU,
        # one static cache per JVM). This engine's plans are literal-
        # specialized and composite queries compile ~80 codegen units
        # each (measured: fineweb_pipeline), so a driver session that
        # runs many distinct queries — the bench's ~190 runs, or a
        # production driver looping over curation configs — evicts a
        # composite's units long before its next run and pays the full
        # multi-second recompile again (measured via CodegenMetrics:
        # re-run after 10 intervening queries recompiled 70/85 units,
        # 9.5 s vs 7.4 s with 1 recompile at 4096; in a full bench
        # session the same re-run read 49 s). 4096 entries covers the
        # whole registry (~101 queries x ~20 units) with headroom;
        # cost is driver-heap class metadata (~100 KB/entry worst
        # case, ~400 MB bound on a 32 GB driver). Not a result-bearing
        # setting — purely compile-cache sizing for long sessions.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark


def local_df(spark: SparkSession, rows, schema: str):
    """Driver-built small DataFrame through the **Arrow** path.

    ``spark.createDataFrame(list_of_tuples)`` routes through the
    pickled-RDD path with ``defaultParallelism`` partitions, and every
    ACTION that touches the frame pays one Python-worker round trip
    per partition — measured 17 s for a 4-way crossJoin of four
    one-row frames on local[32] (1024 cartesian tasks of Python
    partitions), and a recurring tax on every broadcast-joined
    driver-built side table (partition offsets, centroids, block
    maps). Routing the same rows through a pandas frame makes the
    result JVM-backed Arrow batches: the same crossJoin is 0.2 s and
    actions never touch Python again.

    ``schema`` is the usual DDL string; pandas holds the rows only as
    a transit format (dtypes are coerced by the schema). Falls back
    to Spark's own non-Arrow conversion semantics automatically if
    Arrow can't encode a value (Spark warns and converts).
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    names = [f.name for f in StructType.fromDDL(schema).fields]
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=schema)


def observation_value(obs, name: str, default=None):
    """Prune-safe read of a ``pyspark.sql.Observation`` metric AFTER
    the observed dataset's action completed.

    ``Observation.get`` assumes the observe node executed; when AQE's
    empty-relation propagation collapses a downstream branch (e.g. a
    left-semi join whose keep set is empty at runtime), the
    CollectMetrics node is pruned from the executed plan and ``get``
    raises ``java.lang.AssertionError`` from ``toPyRow`` (the JVM's
    ``getRowOrEmpty`` yields an EMPTY row). Returns ``default`` in
    that case instead of crashing — the metric is genuinely unknown,
    not zero."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        return default
    try:
        opt = jo.getRowOrEmpty()
        if not opt.isDefined():
            return default
        row = opt.get()
        if row.size() == 0:
            return default
        return row.get(row.fieldIndex(name))
    except Exception:  # noqa: BLE001 — py4j surface; degrade to default
        return default


def _persistent_rdd_ids(spark: SparkSession) -> frozenset:
    return frozenset(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cache_entries(spark: SparkSession) -> dict:
    """The CacheManager's entries keyed by the identity of their plan
    (read through reflection: Spark has no public listing; a recache
    keeps an entry's plan object)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    ident = spark._jvm.System.identityHashCode
    return {ident(e.plan()): e for e in (entries.apply(i) for i in range(entries.size()))}


class SessionScope:
    """What a unit of work leaves in the session, and its release.

    Entering snapshots the persistent RDDs (cache and checkpoint
    blocks) and the CacheManager registrations. :meth:`grew` says
    whether any appeared since; :meth:`release` — also run on exit,
    normal or by exception — unregisters the new cache entries and
    unpersists the new RDDs, so entries that existed before the scope
    survive it. Every step is best-effort: a py4j failure leaves the
    session as it is.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        try:
            self._rdds = _persistent_rdd_ids(spark)
            self._entries = set(_cache_entries(spark))
        except Exception:  # noqa: BLE001 — py4j surface
            self._rdds = None

    def __enter__(self) -> SessionScope:
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False

    def grew(self) -> bool:
        if self._rdds is None:
            return False
        try:
            return bool(
                _persistent_rdd_ids(self.spark) - self._rdds
                or set(_cache_entries(self.spark)) - self._entries
            )
        except Exception:  # noqa: BLE001
            return False

    def release(self) -> None:
        if self._rdds is None:
            return
        try:
            jsession = self.spark._jsparkSession
            cm = jsession.sharedState().cacheManager()
            for key, entry in _cache_entries(self.spark).items():
                if key not in self._entries:
                    cm.uncacheQuery(jsession, entry.plan(), False, False)
            jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
            for rid in set(jmap.keySet().toArray()) - self._rdds:
                ref = jmap.get(rid)
                if ref is not None:
                    ref.unpersist()
        except Exception:  # noqa: BLE001
            pass

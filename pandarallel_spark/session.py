"""SparkSession construction tuned for this engine.

Replaces ``pandarallel.initialize(nb_workers, use_memory_fs, ...)``
(reference ``pandarallel/core.py:451-520``): instead of sizing a process
pool and picking a pickle transport, we configure one SparkSession —
Arrow replaces pickle-over-/dev/shm, executor threads replace the pool,
AQE replaces static equal-count chunking.

Scale notes (targets a 1000-executor cluster even though tests run
``local[32]``):
- ``spark.sql.shuffle.partitions`` (the local core count here) sizes
  tasks, never range buckets; on a real cluster leave AQE's coalescing
  to right-size post-shuffle partitions instead of hand-tuning.
- A global (key-less) window or as-of join takes one range bucket per
  MiB of input, at most 1024 (``_memo.range_bucket_count``): above
  1 GiB a bucket, one Python group of a UDF window, holds 1/1024 of
  the input (~1 GiB at 1 TB). Keyed windows have no such bound.
- AQE is always on: runtime partition coalescing, skew-join splitting.
- Arrow batch size bounds per-batch memory for pandas UDFs so a 100 TB
  scan never materializes unbounded batches in a Python worker.

Per-task worker cost: before every task a PySpark Python worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). On CPython 3.10-3.12 that makes every live
``zipimporter`` re-read its whole archive directory; a reused worker
holds ~20 of them (pyspark.zip once per imported sub-package, the
spark-core jar, py4j, this package's shipped zip), ~27k entries that
cost 0.20-0.23 s of worker CPU per task — most of a small UDF task.
CPython 3.13 made the re-read lazy. ``_patch_worker_zipimport`` swaps
in a ``zipimporter`` invalidation that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed since that importer last read
it, so a rewritten zip is still picked up. It never touches the driver
process or CPython >= 3.13 and has no option. It runs when this package
is imported in a worker, and every library Python UDF body calls it:
the UDFs are nested functions that cloudpickle ships by value, but a
module-level function they call is pickled by reference, so unpickling
any library UDF imports the package and installs the shim before the
worker's next task.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _local_dir() -> str | None:
    """Shuffle/spill scratch directory.

    Single-node analog of the reference's memory-file-system data plane
    (``core.py:462-465`` auto-picks ``/dev/shm`` when present): putting
    ``spark.local.dir`` on tmpfs removes disk I/O from every shuffle,
    which measured ~2.4× on a 32M-row grouped ``applyInPandas``. On a
    real cluster you'd leave this to the node's NVMe scratch config
    instead — so it's env-overridable and auto-disabled when /dev/shm
    is absent.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override or None
    if Path("/dev/shm").is_dir() and os.access("/dev/shm", os.W_OK):
        d = "/dev/shm/pandarallel_spark_local"
        os.makedirs(d, exist_ok=True)
        return d
    return None


# CPython's eager invalidation: re-reads the archive's directory
_ZIP_REREAD = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _zip_invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory
    re-read when the archive is unchanged since this importer read it."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _ZIP_REREAD(self)
    self._read_stamp = stamp


def _patch_worker_zipimport() -> bool:
    """Install ``_zip_invalidate_if_changed`` in a PySpark worker on
    CPython < 3.13 (see the module docstring); a no-op anywhere else.
    Returns whether the patch is in place."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return False
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # Spark Connect-only client: never a worker
        return False
    if not SparkFiles._is_running_on_worker:
        return False
    zi = zipimport.zipimporter
    if zi.invalidate_caches is not _zip_invalidate_if_changed:
        # the flag is set just before this task's invalidate_caches(),
        # so every live importer has read its archive since: stamp them
        # rather than pay one more full re-read
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zi):
                finder._read_stamp = _archive_stamp(finder.archive)
        zi.invalidate_caches = _zip_invalidate_if_changed
    return True


_PKG_ZIP: str | None = None
_SHIPPED_CONTEXTS: set[str] = set()


def _package_zip() -> str:
    """Zip this package once per process for ``addPyFile`` shipping."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = Path(__file__).parent
        fd, path = tempfile.mkstemp(prefix="pandarallel_spark_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, arcname=str(Path("pandarallel_spark") / py.relative_to(pkg_dir)))
        _PKG_ZIP = path
    return _PKG_ZIP


def ensure_shipped(spark: SparkSession) -> None:
    """Make ``pandarallel_spark`` importable on executor Python workers.

    Functions defined at module level in this package are cloudpickled
    *by reference*, so workers must be able to ``import
    pandarallel_spark``. On a real cluster this zip would ride along as
    ``--py-files``; at runtime ``addPyFile`` is the equivalent and works
    regardless of the driver's cwd/PYTHONPATH.
    """
    sc = spark.sparkContext
    # key on applicationId, never id(sc): a stop()/rebuild cycle can
    # hand the new context the old object's address, which would skip
    # addPyFile and strand executors without the package (review finding
    # r4 — same stale-id class as the operator memos). applicationId is
    # fresh per context; old entries are dropped so the set stays small.
    try:
        key = sc.applicationId
    except Exception:  # noqa: BLE001 — context in teardown: ship anyway
        key = None
    if key is not None and key in _SHIPPED_CONTEXTS:
        return
    sc.addPyFile(_package_zip())
    if key is not None:
        _SHIPPED_CONTEXTS.clear()  # one live context per process
        _SHIPPED_CONTEXTS.add(key)


def get_spark(
    app_name: str = "pandarallel_spark",
    cpus: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    When a session already exists in this JVM, ``getOrCreate`` would
    silently ignore every requested setting — so an active session is
    returned up front (with runtime confs applied via ``configure``),
    before any scratch state is allocated, and a warning names the
    settings being ignored (review finding r4: each extra call also
    leaked an empty catalog scratch dir)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        explicit = {
            "cpus": cpus,
            "driver_memory": driver_memory if driver_memory != "48g" else None,
            "extra_conf": extra_conf or None,
        }
        asked = [k for k, v in explicit.items() if v is not None]
        if asked:
            import warnings

            warnings.warn(
                f"get_spark: a SparkSession already exists; ignoring {asked} "
                "(stop the session first to apply construction-time settings)",
                stacklevel=2,
            )
        return configure(active)
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row batches measured ~15% faster than the 10k default on a
        # 4M-row mapInPandas round trip (per-batch overhead amortizes;
        # larger buys nothing). Still bounds worker memory: batches are
        # per-column Arrow buffers, so even 1 KB-wide rows stay ~64 MB.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores ts as TIMESTAMP(NANOS); read as
        # int64 nanos and convert in the loader (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    local_dir = _local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # managed-table (bucketed) catalog artifacts belong in scratch, not
    # the caller's cwd: warehouse + derby metastore are per-process temp
    scratch = tempfile.mkdtemp(prefix="pandarallel_spark_cat_")
    builder = builder.config(
        "spark.sql.warehouse.dir", f"{scratch}/warehouse"
    ).config(
        "spark.driver.extraJavaOptions", f"-Dderby.system.home={scratch}/derby"
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-provided session.

    The correctness driver hands us its own SparkSession; make sure the
    confs that change *behavior* (Arrow, AQE) are set on it too. Only
    runtime-settable confs here — no driver-memory etc.
    """
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static on this session; defaults are fine
    ensure_shipped(spark)
    return spark

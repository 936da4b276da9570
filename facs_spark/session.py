"""SparkSession helpers + package shipping.

``get_spark`` builds a session tuned for the sketch workload (AQE on,
Arrow on, bounded shuffle partitions).  ``ensure_shipped`` zips the
``facs_spark`` package and registers it via ``addPyFile`` so executor
Python workers can import the kernels — the same mechanism as the
production ``spark-submit --py-files`` deployment (north rule), and
the reason every kernel closure here references only top-level module
functions (cloudpickle then pickles them by reference).
"""

from __future__ import annotations

import atexit
import fcntl
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_SESSIONS: set[int] = set()
_PACKAGE_ZIP: str | None = None

# Process-lifetime scratch: one mkdtemp root, plus the handoff dirs
# this process has claimed (dir -> open, flock'ed fd).  Both go at
# exit through one cleanup, registered by the first that needs it.
_SCRATCH_ROOT: str | None = None
_HANDOFFS: dict[str, int] = {}
_OWNER_PID: int | None = None


def _cleanup() -> None:
    if os.getpid() != _OWNER_PID:  # a forked child inherits the handler
        return
    for d, fd in _HANDOFFS.items():
        shutil.rmtree(d, ignore_errors=True)
        os.close(fd)
    if _SCRATCH_ROOT is not None:
        shutil.rmtree(_SCRATCH_ROOT, ignore_errors=True)


def _register_cleanup() -> None:
    global _OWNER_PID
    if _OWNER_PID is None:
        _OWNER_PID = os.getpid()
        atexit.register(_cleanup)


def _scratch(prefix: str) -> str:
    """A fresh dir under this process's scratch root.

    Staged fixtures, stream checkpoints and sink outputs must outlive
    the query call that made them (the caller collects AFTER the query
    function returns), so per-call cleanup is impossible; instead the
    whole root is removed at process exit."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _register_cleanup()
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="facs_spark_")
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _handoff(name: str) -> str:
    """Stable path of the data a query hands to its DuckDB oracle.

    Pure: the oracle SQL embeds this path, so building it must not
    create, lock or depend on the process.  The query side writes it
    only after ``_claim_handoff``."""
    return os.path.join(tempfile.gettempdir(), f"facs_spark_{name}",
                        f"{name}.parquet")


def _claim_handoff(path: str) -> str:
    """Take the handoff dir of ``path`` for this process and return
    ``path``.  An exclusive non-blocking ``flock`` on the dir keeps two
    live processes from overwriting each other's data; the lock dies
    with its holder, so a killed process's leftover dir is simply
    reclaimed.  The dir is removed at exit."""
    d = os.path.dirname(path)
    if d in _HANDOFFS:
        return path
    _register_cleanup()
    while True:
        os.makedirs(d, exist_ok=True)
        fd = os.open(d, os.O_RDONLY | os.O_DIRECTORY)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(fd)
            raise RuntimeError(
                f"handoff dir {d} is held by another live process; "
                "run it with a different TMPDIR") from None
        try:
            st = os.stat(d)
            locked = os.fstat(fd)
            if (st.st_dev, st.st_ino) == (locked.st_dev, locked.st_ino):
                _HANDOFFS[d] = fd
                return path
        except FileNotFoundError:
            pass
        # the exiting holder removed the dir between our open and lock
        os.close(fd)


def package_zip() -> str:
    """Zip the facs_spark package into scratch (once per process)."""
    global _PACKAGE_ZIP
    if _PACKAGE_ZIP is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        out = os.path.join(_scratch("pkg_"), "facs_spark.zip")
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            for base, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(base, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        _PACKAGE_ZIP = out
    return _PACKAGE_ZIP


def ensure_shipped(spark: SparkSession) -> None:
    """Make facs_spark importable on executors (idempotent per session)."""
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    spark.sparkContext.addPyFile(package_zip())
    _SHIPPED_SESSIONS.add(key)


# A pandas-UDF task has a fixed cost regardless of rows (task launch,
# Arrow channel, python-worker round-trip).  Measured for a trivial
# one-row mapInPandas on a reused worker at local[4] (4-core host):
# job submit -> UDF start 279 ms median and 257 ms of worker CPU per
# task before the worker-side zip-directory cache in facs_spark/
# __init__.py, 55 ms and 33 ms with it.  A kernel partition is only
# worth scheduling once it carries at least this many plan-stat
# bytes; ~2 MiB of text is ~0.1 s of shingle kernel.  The constant
# predates the cache and has not been re-tuned against these numbers.
_KERNEL_SPLIT_BYTES = 2 << 20

# Catalyst's size estimate for a file scan is the COMPRESSED file
# size, but kernel cost tracks the decompressed bytes it processes —
# text parquet typically compresses 3-6×, so scale the estimate up
# before dividing by the break-even constant (the same idea as
# spark.sql.sources.fileCompressionFactor, which Catalyst only
# applies to some estimates).  Over-estimating merely adds partitions
# toward the core-count cap; under-estimating serializes the kernel.
_COMPRESSION_FACTOR = 4.0


def _plan_size_bytes(df) -> int | None:
    """Catalyst's optimized-plan size estimate (cheap: file-stat based
    for scans, no job).  None when the estimate is unavailable."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
        # Catalyst signals "unknown" with Long.MaxValue-ish sentinels
        return size if 0 <= size < (1 << 60) else None
    except Exception:
        return None


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition iff the plan has fewer partitions than the data
    warrants — sized by *bytes*, capped at the core count.

    Small local inputs (one parquet footer < maxPartitionBytes) scan as
    1-2 partitions, serializing CPU-heavy kernels behind them — but
    fanning a 5000-row table out to 32 python-worker tasks costs more
    in per-task overhead than the kernel computes, so the target is
    ``ceil(plan_bytes / _KERNEL_SPLIT_BYTES)`` clamped to
    [1, defaultParallelism].  At cluster scale the condition is false
    (100 TB scans already have ~10⁶ splits) and this is a no-op — no
    gratuitous shuffle.
    """
    return _parallel(df, min_partitions)[0]


def _parallel(df, min_partitions: int | None = None):
    """``ensure_parallelism`` plus the partition count of the frame it
    returns (None for a stream), from its one plan-to-RDD conversion."""
    if df.isStreaming:  # micro-batch sizing is the trigger's job
        return df, None
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if min_partitions is not None:
        target = min_partitions
    else:
        size = _plan_size_bytes(df)
        target = cores if size is None else max(
            1, min(cores, -(-int(size * _COMPRESSION_FACTOR)
                            // _KERNEL_SPLIT_BYTES)))
    n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target), target
    return df, n


def get_spark(app_name: str = "facs_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[cpus] session with scale-appropriate defaults.

    The same config block is what a cluster deployment would set: AQE
    for runtime re-planning (skew splits, partition coalescing), Arrow
    for the pandas-UDF hot path, and shuffle partitions sized to the
    parallelism rather than the 200 default.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2500 rows ≈ cache-resident kernel working set; bigger batches
        # spill the window matrices to DRAM and collapse multi-core
        # scaling (measured: 32-core throughput 3.7× worse at 30k rows)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2500")
        # Spark cuts file splits of max(openCost, (bytes + openCost ·
        # files) / cores) bytes (capped at maxPartitionBytes), and a
        # row group goes to the split holding its midpoint.  At the
        # 4 MiB default a 28 MB file of eight 3.5 MB row groups splits
        # 2/3/2/1 over 4 cores; at 1 MiB a file's last split falls
        # short by only (cores - 1) · openCost / cores, under half such
        # a row group, so it splits 2/2/2/2.  Files under 1 MiB still
        # scan as one split.
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    ensure_shipped(spark)
    return spark

"""SparkSession factory tuned for the tiling engine.

Local-mode defaults mirror what we would set per-executor on a real cluster:
AQE on (runtime skew-join splitting + partition coalescing), shuffle
partitions ~ cores, Arrow enabled for all pandas-UDF traffic, UTC session
timezone (required for DuckDB-oracle comparisons), and BLAS/OMP pinned to one
thread per task so NumPy kernels inside Arrow batches don't oversubscribe
cores (the reference pins BLAS threads the same way:
/root/reference/functions/LandsatMedianImage.py:4-9).

Python worker fixed cost. Before every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
which reaches every ``zipimporter`` in ``sys.path_importer_cache``. On
CPython 3.11 ``zipimporter.invalidate_caches`` eagerly re-parses the
archive's whole central directory; 3.12 made the re-read lazy. A worker
running an engine task holds 18 zipimporters: 12 on ``pyspark.zip``
(1,328 entries each), 2 on the ``spark-core`` jar (5,359 each), 2 on
``py4j`` and 2 on the engine's own zip, so every task re-parsed about
26.8k entries: 0.2-0.37 CPU-s a task on a 4-core box (0.28 s median in
a reused worker) before the UDF saw its first batch. The package
``__init__`` therefore installs, once per worker, a
``zipimporter.invalidate_caches`` that re-reads an archive only
when its ``(mtime_ns, size)`` changed. It is installed only under
CPython < 3.12 (newer interpreters have no eager re-read to remove) and
only inside a task (``TaskContext.get()`` is set): the driver, where
packages and jars may be rebuilt in place, keeps stock ``zipimport``.
Every engine ``mapInPandas`` closure refers to engine module globals,
which pickle by reference, so unpickling it imports the package, and
with it the guard, before the first batch.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Pin NumPy/BLAS threads before NumPy is imported anywhere on workers.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
    os.environ.setdefault(_v, "1")


def get_spark(app_name: str = "raster_functions_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]`` unless a master is already configured.
    spark-submit sets ``spark.master`` as a system property BEFORE this
    builder runs, and an unconditional ``.master()`` here would OVERRIDE
    --master yarn/k8s and silently run a cluster job on the driver node —
    so the local default applies only when no master is configured and
    ``cores`` was not explicitly requested.
    """
    n = cores or os.cpu_count() or 8
    from pyspark import SparkConf
    has_master = SparkConf().contains("spark.master")
    sp = shuffle_partitions or max(n, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # (r7: an 8× initialPartitionNum over-partitioning experiment was
        # measured and REVERTED — alternating same-window A/B at sf1.0
        # showed it 0.6-0.9s slower on the heaviest query in every trial;
        # more shuffle blocks + AQE coalescing overhead, no win.)
        # Floor on scan parallelism (guide §6): a table whose file count ×
        # size lands under maxPartitionBytes scans as ONE task no matter
        # how many cores exist (sf1.0 lineitem = 126 MB = 1 split, so
        # every lineitem query ran its scan + partial agg on one core).
        # A floor is scale-neutral: large tables already exceed it.
        .config("spark.sql.files.minPartitionNum", str(n))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if cores is not None:
        # explicit local-parallelism request (tests/benches) — intentional
        builder = builder.master(f"local[{cores}]")
    elif not has_master:
        builder = builder.master(os.environ.get("SPARK_MASTER", "local[*]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half of physical memory in whole
    GiB, at least 1g and at most 48g. A flat 48g heap let a 20k-AOI local
    run grow until the kernel OOM-killed it on a 15 GB box.
    ``phys_bytes=None`` reads this machine's memory; where it cannot be
    read the 48g cap applies."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):
            return "48g"
    return f"{min(48, max(1, (phys_bytes // 2) >> 30))}g"


def ensure_min_parallelism(df, bytes_per_core: int = 4 * 1024 * 1024):
    """Round-robin a SMALL input up to cluster parallelism.

    Parquet effective scan parallelism is bounded by row-group count, not
    split count — a one-row-group table puts EVERY row in one task no
    matter what minPartitionNum says, which serializes any heavy per-row
    stage built on it (the r7 profile: the whole minhash signature kernel
    and the langid marker scoring each ran on a single core). The rule is
    size-based and self-limiting: repartition only when the total input is
    under cores × ``bytes_per_core`` — exactly the regime where the extra
    exchange is trivially cheap. Large tables (unknowable sizes included)
    are NEVER repartitioned, so the helper is a no-op at 100-TB scale.
    Row-wise downstream results are partitioning-invariant."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    total = 0
    for uri in files:
        if not uri.startswith("file:"):
            return df            # non-local FS: cannot stat cheaply — skip
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        try:
            total += os.path.getsize(path)
        except OSError:
            return df
    if total >= cores * bytes_per_core:
        return df
    return df.repartition(cores)


def package_zip(path: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The north rule requires the engine to run via ``spark-submit
    --py-files`` on multi-executor clusters; this builds that artifact.
    ``path=None`` writes into this process's own temporary directory
    (removed at exit), so concurrent driver processes never overwrite
    each other's zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = path or _process_zip_path()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("raster_functions_spark",
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    return out


@functools.cache
def _process_zip_path() -> str:
    d = tempfile.mkdtemp(prefix="raster_functions_spark-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return os.path.join(d, "raster_functions_spark.zip")


# applicationIds of the SparkContexts that already hold the shipped files
_shipped: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    the driver's cwd (equivalent of launching with --py-files). The repo's
    `__spark_entry__.py` ships too when present: its module-level helpers
    (per-tile stat lambdas) are pickled BY REFERENCE into mapInPandas
    closures, so executors must be able to import the module even when the
    driver was launched from another directory.

    Ships once per SparkContext: Spark ignores a re-added path (with a
    WARN), so later calls on the same context return at once. A context
    where an add failed is retried on the next call."""
    sc = spark.sparkContext
    if sc.applicationId in _shipped:
        return
    ok = True
    try:
        sc.addPyFile(package_zip())
    except Exception:
        ok = False  # non-local FS restrictions
    entry = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "__spark_entry__.py")
    if os.path.exists(entry):
        try:
            sc.addPyFile(entry)
        except Exception:
            ok = False
    if ok:
        _shipped.add(sc.applicationId)

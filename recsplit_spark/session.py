"""SparkSession factory with the engine's recommended configuration, and
the per-process import fix the package installs in PySpark workers."""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

#: (st_ino, st_size, st_mtime_ns) and directory of each archive last read
#: by the stat-checked ``zipimporter.invalidate_caches``; process-wide like
#: ``zipimport._zip_directory_cache``, which it mirrors
_zip_stamps: dict = {}
_stock_zip_invalidate = None


def _stat_checked_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's central
    directory only when the file's (inode, size, mtime) changed since the
    last read; a changed, replaced or missing archive gets the stock
    re-read, so imports resolve exactly as with the stock method."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    seen = _zip_stamps.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    # stat BEFORE the read: a write racing the read leaves a stale stamp,
    # which forces one more re-read, never a stale directory
    _stock_zip_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _zip_stamps[self.archive] = (stamp, self._files)
    else:
        _zip_stamps.pop(self.archive, None)


def install_worker_zip_cache() -> None:
    """Stop each PySpark worker task from re-parsing every zip on sys.path.

    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of every task. Before
    CPython 3.13 that makes every ``zipimporter`` in
    ``sys.path_importer_cache`` re-read its archive's central directory in
    pure Python: up to 12 importers over the 3.5 MB ``pyspark.zip`` (one
    per pyspark package the worker imported) at ~12 ms each and 2 over the
    spark-core jar at ~50 ms each, 0.14-0.42 s of CPU per task on a 4-core
    host (0.14 ms median with this installed; the first call per archive
    in a process still reads it). Installed once per worker process from
    the package import; a no-op on the driver (``pyspark.worker`` not
    loaded) and on CPython >= 3.13, whose ``invalidate_caches`` is
    already lazy.
    """
    global _stock_zip_invalidate
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return
    stock = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if stock is None or stock is _stat_checked_invalidate_caches:
        return
    _stock_zip_invalidate = stock
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate_caches


def ship_package(spark) -> None:
    """Make ``recsplit_spark`` importable on executors (addPyFile zip).

    Equivalent to ``spark-submit --py-files recsplit_spark.zip`` — required
    whenever the driver script does not run from the repo root, and on any
    real cluster.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "recsplit_spark_pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)


def ensure_min_partitions(df, target: int | None = None):
    """Scale-adaptive parallelism floor for the Arrow-kernel operators.

    A single-file parquet scan with one row group produces ONE partition
    no matter how many cores the cluster has — Spark cannot split inside
    a row group — and a ``.cache()`` of that scan pins the layout, so
    every downstream ``mapInArrow``/``mapInPandas`` kernel runs as a
    single task (measured: the whole sf1.0 bench corpus fold serialized
    onto one of 32 cores). This floor round-robin-repartitions ONLY when
    the input has fewer partitions than the session's default
    parallelism; at real scale inputs have hundreds-to-millions of
    partitions and it is a provable no-op, so the at-scale plan keeps
    its shuffle-free shape. Streaming frames pass through untouched
    (their micro-batch partitioning is the engine's business).
    """
    if getattr(df, "isStreaming", False):
        return df
    sc = df.sparkSession.sparkContext
    t = int(target) if target else sc.defaultParallelism
    if t <= 1 or df.rdd.getNumPartitions() >= t:
        return df
    return df.repartition(t)


def get_spark(
    app_name: str = "recsplit-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
):
    """Local-mode session tuned for the Arrow-vectorized kernels.

    On a real cluster these settings ride on spark-submit; the ones that
    matter for this engine: Arrow enabled with large batches (the bucket
    kernels amortize across buckets per batch), AQE on (skew handling),
    shuffle partitions sized to cores.
    """
    from pyspark.sql import SparkSession

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    ncores = os.cpu_count() if cores in ("*",) else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv6Addresses=false")
        .getOrCreate()
    )


def get_spark_with_package(**kwargs):
    """``get_spark`` + ship this package to executors."""
    spark = get_spark(**kwargs)
    ship_package(spark)
    return spark

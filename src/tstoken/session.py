"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import atexit
import functools
import glob
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()  # applicationIds


def host_mem_kib(meminfo: str = "/proc/meminfo") -> int | None:
    """MemTotal in KiB, or None when it cannot be read."""
    try:
        with open(meminfo) as f:
            return next(int(l.split()[1]) for l in f
                        if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return None


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """min(48 GB, half of MemTotal), so the local-mode heap leaves the
    host room; 48 GB when MemTotal cannot be read."""
    kib = host_mem_kib(meminfo) or 96 << 20
    return f"{min(48 << 10, kib // 2048)}m"


def get_spark(app_name: str, master: str,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Arrow-enabled, AQE-enabled session on `master` that ships tstoken.

    On a real cluster these settings ride through spark-submit --conf.
    `extra_conf` entries are applied last (e.g. event-log capture for
    the BENCH task-balance harnesses); shuffle partitions default to
    max(defaultParallelism, 8) of the started context.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # 32 MB scan splits (default 128 MB): with 128 MB splits a 4 GB
        # token table yields ~34 tasks and a 32-thread stage runs as
        # one ragged wave (measured 47 s vs 29 s at local[32] on the
        # 6M-row staging table). 32 MB keeps every stage >= 3-4 task
        # waves per 32 cores; on a 1000-executor cluster the same
        # reasoning holds per-executor-core.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", str(
        shuffle_partitions or max(spark.sparkContext.defaultParallelism, 8)))
    ship_package(spark)
    return spark


@functools.cache
def _package_zip() -> str:
    """src/tstoken/**/*.py zipped once per process, stored (not deflated)."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="tstoken_pyfiles_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    path = os.path.join(tmp, "tstoken.zip")
    with zipfile.ZipFile(path, "w") as z:
        for f in sorted(glob.glob(f"{pkg}/**/*.py", recursive=True)):
            z.write(f, os.path.relpath(f, os.path.dirname(pkg)))
    return path


def ship_package(spark: SparkSession) -> None:
    """addPyFile the tstoken zip once per SparkContext, as `spark-submit
    --py-files` does, so its Python workers import tstoken. A no-op when
    tstoken itself was imported from a zip: `--py-files` shipped it."""
    sc = spark.sparkContext
    if os.path.isfile(__file__) and sc.applicationId not in _SHIPPED:
        sc.addPyFile(_package_zip())
        _SHIPPED.add(sc.applicationId)

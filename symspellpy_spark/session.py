"""SparkSession factory tuned for this engine.

Local-mode testing runs on local[N]; the same settings are what we'd
submit to a real cluster (AQE, Arrow, skew-join handling). Keep shuffle
partitions ~ cores locally; on a 1000-executor cluster this is set to
~2-3x total cores by the submitter.

Python workers fork from ``symspellpy_spark.worker_daemon`` instead of
``pyspark.daemon``. On Python < 3.13 pyspark's daemon made every Python
task re-read the ``pyspark.zip`` directory 16 times (one
``importlib.invalidate_caches()`` per task, 140-650 ms per task on a
4-core host); the worker daemon reads it once per daemon. Workers already
import this package for every UDF; the package root is put on the workers'
``PYTHONPATH`` so they find it whatever the driver's working directory.

The driver heap defaults to half of physical memory, capped at 24g
(``SPARK_DRIVER_MEMORY`` overrides it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MEMORY_MB = 24 * 1024
# the worker daemon must import this package whatever the driver's cwd
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """Half of physical memory, capped at 24g, as a Spark size string."""
    if physical_bytes is None:
        try:
            physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):
            return "24g"
    return f"{min(physical_bytes // 2 >> 20, _MAX_DRIVER_MEMORY_MB)}m"


def get_spark(
    app_name: str = "symspellpy_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    ``cores``: int N -> local[N]; "*" -> local[*]; None -> env
    SPARK_GRAFT_CPUS or local[*].
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n_cores = (os.cpu_count() or 8) if cores == "*" else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64MB advisory partitions under-parallelize mid-size exchanges
        # (e.g. signature arrays) on wide-core workers; 16MB keeps
        # AQE-coalesced stages at >= cores tasks without tiny-task spam
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # prefer shuffled-hash over sort-merge when the per-partition
        # build side fits (guide §3.1): skips both sort passes on the
        # verify/semi-join paths. Deliberate sort-merge sites
        # (_bucket_pairs' self-join, whose identical sorted children
        # make SMJ exchange-and-sort-free) carry explicit merge hints
        # and are unaffected. The 64m AQE threshold is per post-shuffle
        # partition — bounded by the advisory size above at any scale,
        # so the build-side-OOM risk SMJ-by-default guards against does
        # not apply
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.python.daemon.module", "symspellpy_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        # local-mode shuffle/spill funnels through ONE virtual disk; a
        # real N-executor cluster has N sets of local disks. tmpfs gives
        # the same per-core shuffle bandwidth a cluster's striped local
        # SSDs would (falls back to /tmp when /dev/shm is absent)
        .config(
            "spark.local.dir",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

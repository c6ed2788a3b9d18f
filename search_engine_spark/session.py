"""SparkSession factory tuned for the sandbox (local[N]) but configured the
way a multi-executor cluster run would be: AQE on, Arrow on, sensible shuffle
partition count. On a real cluster the same builder is used by
``spark-submit --py-files`` (only master/memory change)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEM``, else half the host's physical RAM in whole GiB
    (at least 1g): in local mode the driver JVM holds the executors too,
    and the Python workers need the other half."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def get_spark(
    app_name: str = "search_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # Shuffle spill dir: prefer tmpfs when present. In local mode every
    # task shares ONE virtual disk, so shuffle I/O serializes across cores —
    # an artifact a multi-executor cluster doesn't have (per-node disks).
    # tmpfs keeps the parallelism measurement about the job, not the VM's
    # single block device. Override with SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
    )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local_dir)
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-aware defaults.

Local-mode knobs are chosen for one box (single JVM, up to 32 threads, a
driver heap sized from the box's RAM); on a real cluster the same builder
runs under spark-submit with the master/memory supplied externally and only
the SQL confs below matter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """$SPARK_DRIVER_MEM, else 40% of physical RAM (MemTotal), whole GiB.

    In local mode the driver JVM hosts every task, and its RSS grows well
    past -Xmx (off-heap shuffle/Arrow buffers, metaspace, code cache) while
    the Python workers need RAM of their own — a heap near the box's total
    gets the JVM killed by the kernel OOM killer on a swapless box."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, int(total * 0.4) >> 30)}g"


def get_spark(
    app_name: str = "entity_matching_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[N] thread count; default $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: default 2x cores (AQE coalesces down at runtime).
    master: override (e.g. "local-cluster[4,8,16384]" for multi-executor-JVM
    scaling runs; executors then need PYTHONPATH to this repo).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = 2 * cores

    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Record-side tables (attrs/dims) are O(records) while pair tables
        # are O(candidates); on this single box a generous broadcast budget
        # turns every attribute-fetch join into a broadcast hash join (zero
        # shuffle of the pair table). A real cluster keeps the default and
        # relies on bucketed/storage-partitioned joins instead.
        .config("spark.sql.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    if master and master.startswith("local-cluster"):
        mem_mb = master.split(",")[2].rstrip("]")
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.config("spark.executor.memory", f"{mem_mb}m")
            .config("spark.executorEnv.PYTHONPATH", repo_root)
            .config("spark.driver.memory", "8g")
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

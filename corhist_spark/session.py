"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same config block is what we'd
ship to a real cluster via ``spark-submit --py-files`` (minus the master
override). AQE is on so skewed joins re-plan at runtime; Arrow is on so
every pandas UDF moves data in columnar batches.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


def host_defaults(env: Mapping[str, str], cpus: int, phys_bytes: int) -> tuple[int, str]:
    """(cores, driver heap) for a session whose caller names neither:
    $SPARK_GRAFT_CPUS, else ``cpus`` (the CPUs this process may run
    on); $SPARK_DRIVER_MEMORY, else half of ``phys_bytes`` of physical
    memory in MiB, capped at 8 GiB."""
    cores = int(env.get("SPARK_GRAFT_CPUS") or cpus)
    heap = env.get("SPARK_DRIVER_MEMORY") or f"{min(8 << 10, phys_bytes >> 21)}m"
    return cores, heap


def get_spark(
    app_name: str = "corhist-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` and the driver heap default to what the host offers
    (``host_defaults``). ``shuffle_partitions`` defaults to ``cores``
    (at least 8) — at cluster scale this would be sized to ~2-3x total
    executor cores / target ~128MB shuffle blocks instead.
    """
    default_cores, heap = host_defaults(
        os.environ,
        len(os.sched_getaffinity(0)),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
    )
    if cores is None:
        cores = default_cores
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", heap)
        # GCLocker guard: allocation-heavy stages over JNI-critical
        # sections (Arrow/parquet) can abort with "Retried waiting for
        # GCLocker too often" under heap pressure (observed on the
        # 98M-row sf1 unique-kernel expansion); retrying the allocation
        # more times turns a hard executor death into a slow GC cycle
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()

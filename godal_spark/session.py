"""SparkSession factory tuned for this engine.

Local-mode testing (local[N], one JVM) while keeping every setting valid
on a real multi-executor cluster: AQE on (runtime skew-join + partition
coalescing), Arrow on (all pixel math crosses the JVM<->Python boundary
in Arrow batches, never per-row), shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:      # no affinity API (macOS)
        return os.cpu_count() or 1


def driver_mem_default() -> str:
    """A sixth of the host's RAM, clamped to 1-4 GB: a local-mode driver
    is the whole cluster, but the Python workers and the OS page cache
    need the rest."""
    try:
        with open("/proc/meminfo") as fh:
            total_mb = next(int(line.split()[1]) // 1024 for line in fh
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration):    # no /proc (macOS): the cap
        return "4096m"
    return f"{min(4096, max(1024, total_mb // 6))}m"


def get_spark(
    app_name: str = "godal_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    executors: int | None = None,
    executor_cores: int = 4,
    executor_mem: str = "4096",
) -> SparkSession:
    """Build (or fetch) the session.

    cores: local[N] thread count; defaults to $SPARK_GRAFT_CPUS or the
    CPUs this process may run on.
    The driver heap is $SPARK_GRAFT_DRIVER_MEM or driver_mem_default().
    shuffle_partitions: defaults to max(cores, 32) — at cluster scale this
    is instead sized by AQE's coalescing from an intentionally high value.
    executors: if set, use local-cluster[executors, executor_cores, mem]
    instead of local[] — SEPARATE executor JVMs, the honest stand-in for
    an N-executor cluster (each JVM gets its own Arrow allocator and
    Python worker pool, like real 4-8 core executors). Requires
    PYTHONPATH propagation, which doubles as the spark-submit --py-files
    packaging check.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)
    # under spark-submit the gateway JVM already carries --master /
    # --executor-* settings; do NOT override them (the --py-files
    # deployment contract)
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if executors is not None:
        master = f"local-cluster[{executors},{executor_cores},{executor_mem}]"
        shuffle_partitions = max(executors * executor_cores, 32)
    else:
        master = f"local[{cores}]"
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    b = SparkSession.builder
    if not under_submit:
        b = (b.master(master)
             .config("spark.executorEnv.PYTHONPATH", repo_root)
             .config("spark.executor.memory", f"{executor_mem}m" if executors else "4g"))
    b = (b
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or driver_mem_default())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

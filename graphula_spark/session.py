"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (AQE on, skew-join handling,
sane shuffle partition count) while remaining fast on local[N] for tests.

The driver heap defaults to ``min(16g, physical memory / 1.4)``: in
local mode the driver JVM is the whole engine, and G1 grows its heap
toward ``-Xmx`` rather than collecting, so a heap the size of the host
gets the JVM killed by the kernel.  1.4 is Spark's own allowance for a
PySpark process: the ``spark.driver.memoryOverheadFactor`` documentation
(spark-core ``internal/config``) sets 0.40 of the heap aside as non-heap
memory for non-JVM jobs.  The rule sizes one JVM per host; several Spark
processes on one host (say, test files run in parallel) must each set
``SPARK_GRAFT_DRIVER_MEM``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The heap ceiling, and the default where physical memory is unknown.
_MAX_DRIVER_MEM_MB = 16 * 1024
#: Heap plus Spark's 0.40 non-JVM overhead must fit in physical memory.
_HEAP_OVERHEAD = 1.4


def _default_driver_memory() -> str:
    """``spark.driver.memory`` for this host, starting no JVM.

    ``SPARK_GRAFT_DRIVER_MEM`` wins when set; otherwise
    ``min(16g, physical memory / 1.4)``, floored to MiB, and 16g where
    ``sysconf`` cannot report physical memory.
    """
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        phys = 0
    if phys <= 0:
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{min(_MAX_DRIVER_MEM_MB, int(phys / _HEAP_OVERHEAD) // 2**20)}m"


def get_spark(
    app_name: str = "graphula-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is enabled so runtime stats re-plan shuffles — this replaces the
    reference's per-recursion-step re-optimization and fail-fast empty
    pruning (reference: core/.../Graphula.scala:120-190,225-230) with
    Catalyst's PropagateEmptyRelation + AQE coalescing/skew handling.

    The driver heap is ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    ``min(16g, physical memory / 1.4)`` (``_default_driver_memory``; the
    module docstring gives the source of 1.4).  It takes effect only when
    this call starts the JVM.  The rule sizes one JVM per host, so
    concurrent Spark processes on one host each need
    ``SPARK_GRAFT_DRIVER_MEM``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE right-size the partitioning that gets captured by
        # .cache(): a 285k-triple interactive graph then caches as a
        # couple of partitions instead of inheriting the full shuffle
        # width, cutting per-query task-scheduling latency ~2x
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()

"""SparkSession factory tuned for the engine.

Defaults chosen for scale-out behavior (AQE on, adaptive skew-join on,
Arrow for pandas UDFs). Shuffle partitions default to the local core
count but on a real cluster should be ~2-3x total cores; all operators
here express plans declaratively so Catalyst/AQE pick physical strategy.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else min(16g, 60% of physical RAM):
    a heap that can grow past the host's RAM gets the JVM killed instead
    of collected. 16g when the RAM size cannot be read."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    cap_mb = 16 * 1024
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, kb * 6 // 10 // 1024)}m"


def get_spark(
    app_name: str = "kgtk_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``)
    so the same code runs under the bench driver at two parallelism levels.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning, skew-join splitting, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Scan-parallelism FLOOR proportional to the session's cores:
        # single-file/single-row-group inputs otherwise scan as one
        # task. At cluster scale splits >> cores, so this is a no-op
        # there (guide §6: split sizing should grow, not shrink, with
        # data volume — a floor keyed to cores does exactly that).
        .config("spark.sql.files.minPartitionNum", str(2 * shuffle_partitions))
        # Arrow transfer for pandas UDFs — the only sanctioned Python path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep broadcast threshold generous: alias dictionaries / key sets
        # are the canonical small side of every semi-join here.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # In local mode the "driver" JVM hosts every executor thread, so
        # the heap serves every concurrent task + broadcasts.
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

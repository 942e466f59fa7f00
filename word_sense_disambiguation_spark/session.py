"""SparkSession factory with scale-appropriate defaults.

Single place where execution knobs live so tests, bench and the driver
contract all run with identical physics:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — the production job targets ~10^12 rows where static planning loses.
* Arrow on — every Python-side operator in this engine is batch-vectorized.
* ``spark.sql.shuffle.partitions`` sized to cores for local runs; a real
  cluster deployment overrides via ``spark-submit --conf``.
* UTC session timezone so results hash-compare against the DuckDB oracle.
* Driver heap: ``$WSD_SPARK_DRIVER_MEM`` if set, else half of the host's
  ``MemTotal`` capped at 24g (24g when ``/proc/meminfo`` is unreadable) —
  a heap larger than the host lets a long-lived JVM grow until the kernel
  kills it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "wsd_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry point serves tests, perfbench, and the
    driver harness. On a real cluster, ``spark-submit`` supplies the master
    and these local-mode settings are inert.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    driver_mem = os.environ.get("WSD_SPARK_DRIVER_MEM")
    if driver_mem is None:
        try:
            with open("/proc/meminfo") as fp:
                kb = next(int(ln.split()[1]) for ln in fp if ln.startswith("MemTotal:"))
            driver_mem = f"{min(24 * 1024, kb // 2048)}m"
        except (OSError, StopIteration, ValueError, IndexError):
            driver_mem = "24g"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Shuffle/scan sizing for the local sandbox; cluster deploys override.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
